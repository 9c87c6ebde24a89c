"""operators/entity_resolution: blocking join, verify, CC clustering.

The gate (gate_r5.py entity_resolution) pins one end-to-end instance
against a recursive-CTE DuckDB oracle; these tests pin the module
pieces on hand-checkable records.
"""

import pytest
from pyspark.sql import functions as F

from inferdb_spark.operators.entity_resolution import (
    blocked_candidate_pairs,
    cluster_summary,
    resolve_entities,
)


@pytest.fixture()
def records(spark):
    rows = [
        # block (1, 0): three names within distance 1 of each other -> one cluster
        (1, "alice", 1, 0),
        (2, "alice", 1, 0),
        (3, "alicx", 1, 0),
        # same names but different block: must NOT pair with the above
        (4, "alice", 2, 0),
        # same block, name too far: singleton
        (5, "zzzzz", 1, 0),
    ]
    return spark.createDataFrame(rows, "rec_id long, name string, nat long, band long")


def test_blocked_pairs_respects_blocks_and_distance(records):
    pairs = blocked_candidate_pairs(records, ["nat", "band"], max_distance=1)
    got = {(r["src"], r["dst"]) for r in pairs.collect()}
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_blocked_pairs_plan_is_equi_join(records):
    pairs = blocked_candidate_pairs(records, ["nat", "band"])
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_custom_verify_predicate(records):
    # exact-equality verify instead of Levenshtein
    pairs = blocked_candidate_pairs(
        records, ["nat", "band"], verify=F.col("a.name") == F.col("b.name")
    )
    got = {(r["src"], r["dst"]) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_resolve_and_summary(records):
    pairs = blocked_candidate_pairs(records, ["nat", "band"], max_distance=1)
    cc = resolve_entities(records, pairs)
    assign = {r["node"]: r["component"] for r in cc.collect()}
    assert assign == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}
    summary = cluster_summary(records, cc)
    got = {(r["component"], r["size"], r["canonical_name"])
           for r in summary.collect()}
    assert got == {(1, 3, "alice"), (4, 1, "alice"), (5, 1, "zzzzz")}


def test_hash_fn_validation_raises(spark):
    from inferdb_spark.operators.dedup import _shingle_hashes_sql
    from inferdb_spark.operators.textprep import ngram_hash_postings

    df = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    with pytest.raises(ValueError, match="hash_fn"):
        ngram_hash_postings(df, "doc_id", "text", 2, hash_fn="sha1")
    with pytest.raises(ValueError, match="hash_fn"):
        _shingle_hashes_sql("`text`", 4, "char", hash_fn="sha1")


def test_block_size_guard_raises(records):
    # 'records' has a 3-record block; a cap of 2 must trip the guard
    with pytest.raises(ValueError, match="max_block_size"):
        blocked_candidate_pairs(records, ["nat", "band"], max_block_size=2)


def test_candidate_volume_guard_raises(records):
    # total pairs = C(3,2) = 3 in the shared fixture; cap at 2
    with pytest.raises(ValueError, match="max_candidate_pairs"):
        blocked_candidate_pairs(
            records, ["nat", "band"], max_candidate_pairs=2
        )


def test_guards_disabled_passthrough(records):
    pairs = blocked_candidate_pairs(
        records, ["nat", "band"], max_block_size=None,
        max_candidate_pairs=None, max_distance=1,
    )
    assert pairs.count() > 0


def test_resolve_variants_agree(records):
    """star CC and the exact-clone quotient chain must produce the exact
    assignments of the plain min-label chain."""
    from inferdb_spark.operators.entity_resolution import (
        resolve_entities_contracted,
    )

    pairs = blocked_candidate_pairs(records, ["nat", "band"], max_distance=1)
    want = {
        (r["node"], r["component"])
        for r in resolve_entities(records, pairs).collect()
    }
    star = {
        (r["node"], r["component"])
        for r in resolve_entities(records, pairs, variant="star").collect()
    }
    assert star == want
    for variant in ("min_label", "star"):
        got = {
            (r["node"], r["component"])
            for r in resolve_entities_contracted(
                records, ["nat", "band"], max_distance=1, variant=variant
            ).collect()
        }
        assert got == want, variant


def test_contracted_matches_plain_on_gate_shaped_data(spark, sf_dir):
    """Full gate chain (dirty twins over customer) — contracted quotient
    assignments must equal the uncontracted chain's exactly."""
    from inferdb_spark.functions.hashing import h52
    from inferdb_spark.catalog import load_table
    from inferdb_spark.operators.entity_resolution import (
        resolve_entities_contracted,
    )

    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_custkey").cast("long").alias("rec_id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nat"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    hsel = h52(F.concat(F.lit("er"), F.col("c_custkey").cast("string")))
    pos = (
        F.lit(1)
        + h52(F.concat(F.lit("pos"), F.col("c_custkey").cast("string")))
        % F.length("c_name")
    )
    twins = c.filter(hsel % 3 == 0).select(
        (F.col("c_custkey") + 1000000).cast("long").alias("rec_id"),
        F.concat(
            F.substring(F.col("c_name"), F.lit(1), pos - 1),
            F.col("c_name").substr(pos + 1, F.length("c_name")),
        ).alias("name"),
        F.col("c_nationkey").alias("nat"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    rec = base.unionByName(twins)
    blocked = rec.withColumn("band", F.floor(F.col("cents") / 1000).cast("long"))
    pairs = blocked_candidate_pairs(
        blocked, ["nat", "band"], id_col="rec_id", name_col="name",
        max_distance=1,
    )
    want = sorted(
        (r["node"], r["component"])
        for r in resolve_entities(rec, pairs, id_col="rec_id").collect()
    )
    got = sorted(
        (r["node"], r["component"])
        for r in resolve_entities_contracted(
            blocked, ["nat", "band"], id_col="rec_id", name_col="name",
            max_distance=1,
        ).collect()
    )
    assert got == want
