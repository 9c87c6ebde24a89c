"""Round-8 gate queries, batch 3.

Contents (COVERAGE.md round-8 backlog, DB-operator/text half):

- soundex_blocking_join — phonetic (simplified-Soundex) blocking of the
                          document vocabulary: the classic cheap
                          entity-resolution blocking key
- geohash_cell_agg      — base-32 geohash encoding via pure integer bit
                          interleaving + per-cell rollup
- hits_hub_side         — the hub-side output of the integer HITS
                          iteration (gate:hits_hub_authority emits the
                          authority side)

Determinism: the soundex and geohash encoders are pure
string/integer-arithmetic expressions built by ONE python generator and
executed on both engines (the builders parameterize only the dialect
tokens: integer division `div` vs `//`, and the regexp global flag —
DuckDB's regexp_replace is FIRST-occurrence by default, which would
silently diverge on names with two runs of the same digit class);
counts are exact BIGINTs; the only doubles are 6dp-rounded display
divisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.gate import gate
from inferdb_spark.gate_r7i import _HITS_TOPK, _hits_oracle, _hits_scores

# ---------------------------------------------------------------------------
# Simplified Soundex phonetic blocking over the document vocabulary
# ---------------------------------------------------------------------------

# letter -> digit classes of American Soundex (a..z); h/w/y are treated
# as vowels (code 0), i.e. the SIMPLIFIED variant: runs collapse only
# when directly adjacent, and the first letter's own code is not merged
# with a same-class second letter.  Deterministic and engine-portable —
# no backreference regexes (Java and RE2 disagree on replacement
# syntax), just per-digit run collapses.
_SOUNDEX_CODES = "01230120022455012623010202"


def _soundex_sql(w: str, g: str) -> str:
    """`g` is the engine's global regexp flag argument ('' for Spark,
    ", 'g'" for DuckDB — DuckDB replaces only the FIRST occurrence by
    default, which silently diverges on any name with two runs of the
    same digit class)."""
    digits = (
        f"substring(translate({w}, 'abcdefghijklmnopqrstuvwxyz',"
        f" '{_SOUNDEX_CODES}'), 2)"
    )
    x = digits
    for d in "123456":
        x = f"regexp_replace({x}, '{d}{d}+', '{d}'{g})"
    x = f"replace({x}, '0', '')"
    return f"concat(upper(substring({w}, 1, 1)), rpad(substring({x}, 1, 3), 3, '0'))"


@gate(
    "soundex_blocking_join",
    oracle=f"""
    WITH vocab AS (
      SELECT DISTINCT replace(lower(p_name), ' ', '') AS w FROM part
    ),
    keyed AS (
      SELECT w, {_soundex_sql("w", ", 'g'")} AS code FROM vocab WHERE length(w) > 0
    )
    SELECT code,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS n_pairs,
           min(w) AS first_token
    FROM keyed GROUP BY code ORDER BY code
    """,
)
def q_soundex_blocking_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking of the distinct (space-stripped, lowercased)
    part names with a simplified Soundex key (first letter + first
    three consonant-class digits, adjacent runs collapsed, vowels/h/w/y
    dropped): names sharing a code land in one block — coldbolt and
    coldplate, largering and largerod — and the blocking JOIN then only
    compares the n*(n-1)/2 pairs INSIDE each block, the classic cheap
    recall filter in front of expensive entity-resolution matchers
    (operators/entity_resolution.py blocks on exact n-grams; phonetic
    codes catch sound-alike variants those miss).

    The encoder is ONE generated SQL expression (translate + per-digit
    run collapses; no backreference regexes, which Java and RE2 spell
    differently; the only per-engine token is DuckDB's 'g' flag —
    without it names like "bisque sky" collapse only their first digit
    run and the engines disagree).  Scale: the key is a pure projection; blocks are a
    groupBy over the distinct-NAME relation (domain-bounded), and
    emitted pair counts stay quadratic only inside blocks — the same
    bucketed discipline as every dedup operator here."""
    part = load_table(spark, sf_dir, "part")
    vocab = (
        part.selectExpr("replace(lower(p_name), ' ', '') AS w")
        .filter(F.length("w") > 0)
        .distinct()
    )
    keyed = vocab.selectExpr("w", f"{_soundex_sql('w', '')} AS code")
    return (
        keyed.groupBy("code")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.expr("CAST(count(*) * (count(*) - 1) div 2 AS BIGINT)").alias(
                "n_pairs"
            ),
            F.min("w").alias("first_token"),
        )
        .orderBy("code")
    )


# ---------------------------------------------------------------------------
# Geohash cell aggregation via integer bit interleaving
# ---------------------------------------------------------------------------

_GH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"
_GH_PRECISION = 5  # 25 bits: 13 lon + 12 lat


def _geohash_sql(lat: str, lon: str, div: str) -> str:
    """base-32 geohash of (lat, lon) at precision 5, as pure integer
    arithmetic: quantize both axes, interleave bits MSB-first starting
    with longitude (the geohash convention), then index the base-32
    alphabet per 5-bit group.  `div` is the engine's integer-division
    token (Spark `div`, DuckDB `//`) — the only dialect difference."""
    lat_q = f"CAST(floor((({lat}) + 90.0) / 180.0 * 4096.0) AS BIGINT)"
    lon_q = f"CAST(floor((({lon}) + 180.0) / 360.0 * 8192.0) AS BIGINT)"
    terms = []
    for i in range(13):  # lon bits at even positions 0,2,..,24
        terms.append(f"((({lon_q}) {div} {1 << (12 - i)}) % 2) * {1 << (24 - 2 * i)}")
    for j in range(12):  # lat bits at odd positions 1,3,..,23
        terms.append(f"((({lat_q}) {div} {1 << (11 - j)}) % 2) * {1 << (23 - 2 * j)}")
    g = "(" + " + ".join(terms) + ")"
    chars = [
        f"substring('{_GH_ALPHABET}', CAST(({g} {div} {1 << (20 - 5 * k)}) % 32"
        f" AS INT) + 1, 1)"
        for k in range(_GH_PRECISION)
    ]
    return "concat(" + ", ".join(chars) + ")"


_GH_LAT = "(-30.0 + (c_custkey % 120) * 0.5)"
_GH_LON = "(-100.0 + ((c_custkey * 7) % 360) * 0.5)"


@gate(
    "geohash_cell_agg",
    oracle=f"""
    WITH pts AS (
      SELECT {_geohash_sql(_GH_LAT, _GH_LON, "//")} AS gh5,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal
      FROM customer
    )
    SELECT substring(gh5, 1, 3) AS gh3, gh5,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(bal) AS BIGINT) AS bal_c
    FROM pts GROUP BY gh5 ORDER BY gh5
    """,
)
def q_geohash_cell_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash cell rollup of customers on synthesized coordinates:
    encode each point to a precision-5 geohash (the standard spatial
    bucketing key for point aggregation, neighbor lookups, and map
    tiles), then aggregate count and balance per cell, with the
    precision-3 prefix carried for coarse rollups — substring(gh, 1, k)
    IS the k-precision parent cell, which is what makes geohash the
    hierarchy-friendly choice.

    The encoder is pure integer arithmetic (quantize, interleave 25
    bits MSB-first starting with longitude, index base-32) generated
    once in python and executed on both engines; no floats survive past
    the initial quantization, so cells are bit-identical cross-engine.
    Scale: a projection + one map-side-combinable groupBy; same Morton
    discipline as scale.write_zordered's clustering key."""
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.selectExpr(
        f"{_geohash_sql(_GH_LAT, _GH_LON, 'div')} AS gh5",
        "CAST(round(c_acctbal * 100) AS BIGINT) AS bal",
    )
    return (
        pts.groupBy("gh5")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("bal").cast("long").alias("bal_c"),
        )
        .selectExpr(
            "substring(gh5, 1, 3) AS gh3", "gh5", "n_customers", "bal_c"
        )
        .orderBy("gh5")
    )


# ---------------------------------------------------------------------------
# HITS hub side
# ---------------------------------------------------------------------------


@gate("hits_hub_side", oracle=_hits_oracle("hub"))
def q_hits_hub_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub scores of the same fixed-round integer HITS iteration as
    gate:hits_hub_authority — top-{k} supplier HUBS (suppliers whose
    lineitems touch many high-authority parts).  Same bit-reproducible
    integer-micro-unit normalization; this gate closes the round-7
    backlog note that only the authority side was emitted."""
    e, _a, h = _hits_scores(spark, sf_dir)
    out = (
        h.select(
            F.col("s").alias("node"),
            F.col("h").alias("score"),
            F.lit("hub").alias("role"),
        )
        .orderBy(F.desc("score"), F.asc("node"))
        .limit(_HITS_TOPK)
    )
    rows = out.collect()
    e.unpersist()
    return spark.createDataFrame(rows, out.schema)
