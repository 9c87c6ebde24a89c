import math
import re

from pyspark.sql import functions as F

from inferdb_spark.functions import text as TXT
from inferdb_spark.functions.datetime_fns import pg_dow, pg_isodow
from inferdb_spark.functions.geo import compass_quadrant, spherical_distance
from inferdb_spark.functions.hashing import MERSENNE_P, h52, perm_params
from inferdb_spark.functions.math_fns import crazy_exp, sigmoid
from inferdb_spark.functions.vector import cosine_similarity, dot, dot_literal


def test_crazy_exp_clamps(spark):
    df = spark.createDataFrame([(-1.0,), (2.0,), (800.0,)], "x double")
    got = [r[0] for r in df.select(crazy_exp(F.col("x"))).collect()]
    assert got[0] == 0.0
    assert abs(got[1] - math.exp(2)) < 1e-12
    assert got[2] == math.exp(700.0)


def test_pg_dow_isodow(spark):
    # 2024-01-01 was a Monday; 2024-01-07 a Sunday
    df = spark.createDataFrame(
        [("2024-01-01",), ("2024-01-07",)], "d string"
    ).select(F.col("d").cast("timestamp").alias("ts"))
    rows = df.select(pg_dow(F.col("ts")).alias("dow"), pg_isodow(F.col("ts")).alias("iso")).collect()
    assert (rows[0].dow, rows[0].iso) == (1, 1)
    assert (rows[1].dow, rows[1].iso) == (0, 7)


def test_spherical_distance_known_points(spark):
    # JFK (40.6413,-73.7781) to LAX (33.9416,-118.4085) ≈ 3974 km
    df = spark.createDataFrame([(40.6413, -73.7781, 33.9416, -118.4085)], "a double, b double, c double, d double")
    km = df.select(
        spherical_distance(F.col("a"), F.col("b"), F.col("c"), F.col("d"), "km")
    ).first()[0]
    assert abs(km - 3974) < 15
    same = spark.createDataFrame([(1.0, 2.0)], "a double, b double").select(
        spherical_distance(F.col("a"), F.col("b"), F.col("a"), F.col("b"), "km")
    ).first()[0]
    assert same == 0.0


def test_compass_quadrant(spark):
    df = spark.createDataFrame([(0.0,), (90.0,), (180.0,), (270.0,), (350.0,)], "b double")
    got = [r[0] for r in df.select(compass_quadrant(F.col("b"))).collect()]
    assert got == ["N", "E", "S", "W", "N"]


def _py_normalize(text):
    """Python reference of normalize_sql."""
    return re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", text.lower())).strip(" ")


def _py_tokens(text):
    """Python reference of tokens_sql: [] for blank text."""
    n = _py_normalize(text)
    return n.split(" ") if n else []


_TEXTS = [
    "",
    "?!, ...",
    "a   b    c",
    "  MiXeD CaSe, Words!  ",
    "Café ÜBER naïve straße, 2024",
    "The quick brown fox is in the box\tand\nit was",
]


def test_tokens_and_ngrams(spark):
    df = spark.createDataFrame([("The quick, brown FOX!",), ("",)], "t string")
    toks = [r[0] for r in df.select(F.expr(TXT.tokens_sql("`t`"))).collect()]
    assert toks[0] == ["the", "quick", "brown", "fox"]
    assert toks[1] == []
    ng = df.select(F.expr(TXT.word_ngrams_sql("`t`", 2))).first()[0]
    assert ng == ["the quick", "quick brown", "brown fox"]
    cg = spark.createDataFrame([("abcd",)], "t string").select(
        F.expr(TXT.char_ngrams_sql("`t`", 3))
    ).first()[0]
    assert cg == ["abc", "bcd"]


def test_tokens_and_normalize_sql_match_python_reference(spark):
    """normalize_sql / tokens_sql against the Python reference on blank,
    punctuation-only, repeated-space, mixed-case and non-ASCII text; NULL
    text stays NULL."""
    got = spark.createDataFrame([(t,) for t in _TEXTS] + [(None,)], "t string").select(
        F.expr(TXT.normalize_sql("`t`")).alias("n"),
        F.expr(TXT.tokens_sql("`t`")).alias("toks"),
    ).collect()
    assert [r["n"] for r in got[:-1]] == [_py_normalize(t) for t in _TEXTS]
    assert [r["toks"] for r in got[:-1]] == [_py_tokens(t) for t in _TEXTS]
    assert got[1]["toks"] == [] and got[4]["toks"][:2] == ["caf", "ber"]
    assert (got[-1]["n"], got[-1]["toks"]) == (None, None)


def test_text_stats_matches_python_reference(spark):
    """text_stats = (token count, stopword hits, summed token length)
    over the Python reference tokens."""
    got = spark.createDataFrame([(t,) for t in _TEXTS], "t string").select(
        TXT.text_stats("`t`").alias("s")
    ).collect()
    want = [
        (len(toks), sum(w in TXT.STOPWORDS for w in toks), sum(map(len, toks)))
        for toks in map(_py_tokens, _TEXTS)
    ]
    assert [
        (r["s"]["n_tokens"], r["s"]["stopword_hits"], r["s"]["char_sum"]) for r in got
    ] == want
    assert want[5][1] == 7  # the, is, in, the, and, it, was


def test_h52_range_and_determinism(spark):
    df = spark.createDataFrame([("hello",), ("hello",), ("world",)], "s string")
    got = [r[0] for r in df.select(h52(F.col("s"))).collect()]
    assert got[0] == got[1] != got[2]
    assert all(0 <= h < 2**52 for h in got)
    ps = perm_params(8)
    assert len(set(ps)) == 8
    assert all(1 <= a < MERSENNE_P and 0 <= b < MERSENNE_P for a, b in ps)


def test_vector_ops(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<double>, b array<double>")
    r = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        cosine_similarity(F.col("a"), F.col("a")).alias("c"),
        dot_literal(F.col("a"), [2.0, 0.0, 1.0]).alias("dl"),
    ).first()
    assert r.d == 32.0
    assert abs(r.c - 1.0) < 1e-12
    assert r.dl == 2.0 * 1 + 3.0


def test_sigmoid(spark):
    df = spark.createDataFrame([(0.0,)], "x double")
    assert df.select(sigmoid(F.col("x"))).first()[0] == 0.5
