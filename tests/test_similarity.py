

def test_sq8_codes_bounded_and_rank_matches_float(spark):
    """SQ8 codes stay in [-127,127]; on well-separated vectors the
    quantized ranking equals exact float dot-product ranking; a constant
    (zero-scale) dimension contributes nothing."""
    import numpy as np
    import pandas as pd

    from inferdb_spark.operators.similarity import (
        fit_sq8_scales,
        sq8_quantize_col,
        sq8_quantize_query,
        sq8_topk,
    )
    from pyspark.sql import functions as F

    rng = np.random.RandomState(7)
    vecs = rng.uniform(-1, 1, size=(40, 8)).astype(np.float32)
    vecs[:, 3] = 0.25  # constant dim -> scale fits but carries no rank info
    # separate the dots so int8 rounding cannot reorder neighbors
    vecs[:10] *= 0.1
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(40), "embedding": [v.tolist() for v in vecs]}
        )
    )
    scales = fit_sq8_scales(df, "embedding")
    assert len(scales) == 8 and all(s >= 0 for s in scales)
    codes = df.select(
        sq8_quantize_col(F.col("embedding"), scales).alias("q")
    ).collect()
    flat = [c for r in codes for c in r["q"]]
    assert max(flat) <= 127 and min(flat) >= -127

    query = [0.9, -0.5, 0.3, 0.25, -0.8, 0.1, 0.7, -0.2]
    got = [r["vec_id"] for r in sq8_topk(df, "embedding", scales, query, k=5).collect()]
    # exact parity vs a numpy twin of the SAME quantization (determinism)
    import math

    qmat = np.array(
        [
            [
                int(math.floor(float(x) / s * 127.0 + 0.5)) if s > 0 else 0
                for x, s in zip(v, scales)
            ]
            for v in vecs.astype(np.float64)
        ]
    )
    qq = np.array(sq8_quantize_query(query, scales))
    dots = qmat @ qq
    twin = sorted(range(40), key=lambda i: (-dots[i], i))[:5]
    assert got == twin
    # recall sanity vs exact float ranking: top-5 sets nearly agree
    exact = list(np.argsort(-(vecs.astype(np.float64) @ np.array(query)))[:5])
    assert len(set(got) & set(exact)) >= 4 and got[0] == exact[0]

    # zero-scale dim: quantizing a constant-0 column yields code 0
    z = np.zeros((3, 8), dtype=np.float32)
    zdf = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(3), "embedding": [v.tolist() for v in z]})
    )
    zs = fit_sq8_scales(zdf, "embedding")
    assert all(s == 0.0 for s in zs)
    assert sq8_quantize_query(query, zs) == [0] * 8


def _sq_l2(v, c):
    """Squared L2 as the SQL fold computes it: a left-to-right sum of
    (a - b)^2 from 0.0, so the floats match bit for bit."""
    acc = 0.0
    for a, b in zip(v, c):
        acc += (a - b) * (a - b)
    return acc


def test_ivf_and_pq_sql_match_numpy_argmin(spark):
    """ivf_assign_sql / ivf_probe_cells_sql / pq_encode_sql against a
    numpy argmin over the same squared-L2 distances.  Centroid 4 repeats
    centroid 1 and codeword 7 repeats codeword 2 of every subspace, so
    every vector nearest to one of them meets a built-in exact tie: the
    lower id must win, and in a probe list the lower id comes first."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from inferdb_spark.operators.similarity import (
        ivf_assign_sql,
        ivf_probe_cells_sql,
        pq_encode_sql,
    )

    rng = np.random.RandomState(11)
    vecs = rng.uniform(-1, 1, size=(200, 16)).astype(np.float32)
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(200), "embedding": [v.tolist() for v in vecs]}
        )
    )
    cents = [
        [round(float(x), 3) for x in rng.uniform(-1, 1, 16)] for _ in range(4)
    ]
    cents.append(list(cents[1]))
    books = [
        [[round(float(x), 3) for x in rng.uniform(-1, 1, 4)] for _ in range(7)]
        for _ in range(4)
    ]
    for book in books:
        book.append(list(book[2]))
    rows = df.select(
        "vec_id",
        F.expr(ivf_assign_sql("`embedding`", cents)).alias("a"),
        F.expr(ivf_probe_cells_sql("`embedding`", cents, 1)).alias("p1"),
        F.expr(ivf_probe_cells_sql("`embedding`", cents, 3)).alias("p3"),
        F.expr(pq_encode_sql("`embedding`", books)).alias("codes"),
    ).collect()
    X = vecs.astype(np.float64)
    saw_ivf_tie = saw_pq_tie = False
    for r in rows:
        v = X[r["vec_id"]].tolist()
        d = np.array([_sq_l2(v, c) for c in cents])
        assert r["a"] == int(np.argmin(d))
        ranked = [int(i) for i in np.argsort(d, kind="stable")]
        assert list(r["p1"]) == ranked[:1]
        assert list(r["p3"]) == ranked[:3]
        saw_ivf_tie |= r["a"] == 1
        codes = []
        for s, book in enumerate(books):
            sub = v[s * 4 : (s + 1) * 4]
            codes.append(int(np.argmin([_sq_l2(sub, c) for c in book])))
        assert list(r["codes"]) == codes
        saw_pq_tie |= 2 in codes
    assert saw_ivf_tie and saw_pq_tie
    assert all(r["a"] != 4 and 7 not in r["codes"] for r in rows)


def test_centroid_cosine_assignment_sql_matches_numpy(spark):
    """assign_with_centroid_cosine_sql against a numpy argmin over the
    same squared-L2 folds, plus the micro-unit cosine to the chosen
    centroid.  Centroid 5 repeats centroid 1 (an exact distance tie: the
    lower id wins) and centroid 6 is the zero vector, so the zero vector
    and a near-zero vector land on a zero-norm centroid (ccos_q 0)."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from inferdb_spark.operators.similarity import assign_with_centroid_cosine_sql

    rng = np.random.RandomState(5)
    cents = [
        [round(float(x), 3) for x in rng.uniform(-1, 1, 8)] for _ in range(5)
    ]
    cents += [list(cents[1]), [0.0] * 8]
    vecs = [[float(x) for x in v] for v in rng.uniform(-1, 1, size=(120, 8))]
    vecs[0] = [0.0] * 8
    vecs[1] = [0.01] * 8
    vecs[2] = [x + 0.001 for x in cents[1]]
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(vecs)), "embedding": vecs})
    )
    rows = df.select(
        "vec_id",
        F.expr(assign_with_centroid_cosine_sql("`embedding`", cents)).alias("a"),
    ).collect()

    def fold(xs):
        acc = 0.0
        for x in xs:
            acc += x
        return acc

    def ccos_q(v, c):
        nv = math.sqrt(fold(x * x for x in v))
        nc = math.sqrt(fold(x * x for x in c))
        cos = fold(a * b for a, b in zip(v, c)) / (nv * nc) if nv > 0 and nc > 0 else 0.0
        return math.floor(cos * 1e6 + 0.5)

    for r in rows:
        v = vecs[r["vec_id"]]
        k = int(np.argmin([_sq_l2(v, c) for c in cents]))
        assert (r["a"]["cluster"], r["a"]["ccos_q"]) == (k, ccos_q(v, cents[k]))
    by_id = {r["vec_id"]: r["a"] for r in rows}
    assert (by_id[0]["cluster"], by_id[0]["ccos_q"]) == (6, 0)
    assert (by_id[1]["cluster"], by_id[1]["ccos_q"]) == (6, 0)
    assert by_id[2]["cluster"] == 1 and by_id[2]["ccos_q"] > 999000
    assert all(r["a"]["cluster"] != 5 for r in rows)


def _sign_bit_reference(v, planes, n_probe):
    """Python multi-probe: own sign bucket, then bucket ^ 2^i for the
    (n_probe - 1) planes with the smallest (|proj|, i)."""
    projs = []
    for p in planes:
        acc = 0.0
        for a, b in zip(v, p):
            acc += a * b
        projs.append(acc)
    bucket = sum(2**i for i, d in enumerate(projs) if d > 0)
    weak = sorted(range(len(planes)), key=lambda i: (abs(projs[i]), i))
    return bucket, [bucket] + [bucket ^ (1 << i) for i in weak[: n_probe - 1]]


def test_hyperplane_sql_matches_sign_bit_reference(spark):
    """hyperplane_bucket_sql / hyperplane_multiprobe_sql against the
    Python sign-bit reference, for n_probe 1, 2 and 4.  Plane 4 is the
    negation of plane 0, so |proj| ties between them on every vector and
    the lower plane index must flip first; the zero vector has every
    projection exactly 0 (no sign bit set, flips in plane order)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from inferdb_spark.operators.similarity import (
        hyperplane_bucket_sql,
        hyperplane_multiprobe_sql,
        make_hyperplanes,
    )

    rng = np.random.RandomState(7)
    vecs = [rng.uniform(-1, 1, 16).tolist() for _ in range(200)]
    vecs.append([0.0] * 16)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(vecs)), "embedding": vecs})
    )
    planes = make_hyperplanes(4, 16, seed=1234)
    planes.append([-x for x in planes[0]])
    for n_probe in (1, 2, 4):
        rows = df.select(
            "vec_id",
            F.expr(hyperplane_bucket_sql("`embedding`", planes)).alias("b"),
            F.expr(
                hyperplane_multiprobe_sql("`embedding`", planes, n_probe)
            ).alias("probe"),
        ).collect()
        for r in rows:
            bucket, probe = _sign_bit_reference(
                vecs[r["vec_id"]], planes, n_probe
            )
            assert r["b"] == bucket
            assert list(r["probe"]) == probe, (r["vec_id"], n_probe)
    zero = next(r for r in rows if r["vec_id"] == len(vecs) - 1)
    assert zero["b"] == 0 and list(zero["probe"]) == [0, 1, 2, 4]
