"""Argument parsing of tools/ab_alternate.py (no Spark session needed)."""

from __future__ import annotations

import pytest

from tools.ab_alternate import parse_args


@pytest.mark.parametrize("reps", [["--reps", "3"], ["--reps=3"]])
def test_reps_is_not_a_side(reps):
    args = parse_args(["q", "mod.attr", "a", "b", *reps])
    assert args.reps == 3
    assert args.values == ["a", "b"]


def test_defaults_and_three_sides():
    args = parse_args(["q", "mod.attr", "1", "2", "3"])
    assert (args.query, args.toggle, args.values, args.reps) == (
        "q", "mod.attr", ["1", "2", "3"], 6,
    )


@pytest.mark.parametrize(
    "argv",
    [
        ["q", "mod.attr", "a", "b", "--reps", "3", "c"],  # stray positional
        ["q", "mod.attr", "a"],  # one side only
        ["q", "mod.attr", "a", "b", "--reps", "0"],
    ],
)
def test_rejects_bad_arguments(argv):
    with pytest.raises(SystemExit):
        parse_args(argv)
