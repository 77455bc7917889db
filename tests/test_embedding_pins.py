"""Bit-identity pins for the embedding/ANN family's vector primitives.

- the per-vector array-fold Lloyd assignment equals the exploded
  (vec,pos)x(cell,pos) join + argmin window;
- the PQ codebook training and code assignment fold (per-(vector,
  subspace) micro-unit arrays against broadcast codeword arrays)
  equals the exploded (vec,pos)x(code,pos) join chain, for both the
  trained index codebook and the 4-codeword demo bundle;
- the k-means pair memo builds once when several threads ask at once;
- the shared primitives (top-k window, ordered fan-in, integer argmin
  fold) break ties the documented way on tiny hand-built frames, and
  the SQL templates render the text the oracles were written with.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from conftest import SF_DIR as SF


@pytest.mark.parametrize("k,rounds,normalized", [(4, 1, False), (32, 3, True)])
def test_kmeans_hof_assignment_matches_exploded_join(spark, k, rounds, normalized):
    """The r15 per-vector array-HOF Lloyd assignment must equal the
    exploded (vec,pos)x(cell,pos) join + groupBy + argmin-window it
    replaced, bit-for-bit: BIGINT distance sums are order-free and the
    HOF per-term SQL is the spelling of _nano9_long/_sq_nano9_long, so
    any mismatch is a protocol bug, not noise."""
    from pyspark.sql import Window

    import grapho_spark.queries.embeddings as E

    a_new, c_final = E._kmeans_pair(spark, SF, k, rounds, normalized)
    if normalized:
        vecs = E._normalized_vec_expl(spark, SF, None)

        def term(a, b):
            return E._sq_nano9_long(a, b)

    else:
        e = E.load_table(spark, SF, "embeddings")
        vecs = e.select(
            "vec_id", F.posexplode("embedding").alias("pos0", "val")
        ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "val")

        def term(a, b):
            return E._nano9_long((a - b) * (a - b))

    d = (
        vecs.join(F.broadcast(c_final), "pos")
        .groupBy("vec_id", "cid")
        .agg(F.sum(term(F.col("val"), F.col("cval"))).alias("dist"))
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    a_old = (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", F.col("cid").alias("cid_old"))
    )
    joined = a_new.join(a_old, "vec_id")
    assert joined.count() == a_new.count() == a_old.count()
    assert joined.filter(F.col("cid") != F.col("cid_old")).count() == 0


def _old_codebook(spark, sf_dir, pred=None):
    """The r15 exploded-join training chain, verbatim (the reference
    the HOF fold must equal bit-for-bit)."""
    from grapho_spark.queries import embeddings as E

    expl = E._pq_expl(spark, sf_dir, pred)
    cw = expl.groupBy(
        (F.col("vec_id") % E._ANN_PQ_K).alias("grp"), "sub", "pos"
    ).agg(F.expr(E._MICRO_MEAN_CW_SPARK).alias("cw"))

    def code_dists(book):
        dvl = (F.col("dv") * 1000000).cast("long")
        cwl = (F.col("cw") * 1000000).cast("long")
        return (
            expl.join(F.broadcast(book), ["sub", "pos"])
            .groupBy("vec_id", "sub", "grp")
            .agg(F.sum((dvl - cwl) * (dvl - cwl)).alias("dist"))
        )

    w_code = Window.partitionBy("vec_id", "sub").orderBy("dist", "grp")
    for _ in range(E._ANN_PQ_TRAIN):
        am = (
            code_dists(cw)
            .withColumn("rn", F.row_number().over(w_code))
            .filter(F.col("rn") == 1)
            .select("vec_id", "sub", "grp")
        )
        cw = (
            expl.join(am.withColumnRenamed("grp", "code_grp"), ["vec_id", "sub"])
            .groupBy(F.col("code_grp").alias("grp"), "sub", "pos")
            .agg(F.expr(E._MICRO_MEAN_CW_SPARK).alias("cw"))
        )
    return cw


def _old_encode(spark, sf_dir, book, pred=None):
    from grapho_spark.queries import embeddings as E

    dvl = (F.col("dv") * 1000000).cast("long")
    cwl = (F.col("cw") * 1000000).cast("long")
    dists = (
        E._pq_expl(spark, sf_dir, pred)
        .join(F.broadcast(book), ["sub", "pos"])
        .groupBy("vec_id", "sub", "grp")
        .agg(F.sum((dvl - cwl) * (dvl - cwl)).alias("dist"))
    )
    w_code = Window.partitionBy("vec_id", "sub").orderBy("dist", "grp")
    return (
        dists.withColumn("rn", F.row_number().over(w_code))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub", F.col("grp").alias("code"))
    )


def _nt(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


@pytest.mark.parametrize("pred", [None, "vec_id % 5 < 4"])
def test_pq_hof_codebook_and_codes_match_exploded_join(spark, pred):
    from grapho_spark.queries import embeddings as E

    old_book = _old_codebook(spark, SF, pred)
    new_book = E._pq16_codebook(spark, SF, pred)
    # name+type equality (nullability differs on the internal pos
    # column — floor().cast() is nullable where posexplode+1 was not —
    # and is erased by the parquet save the consumers read through)
    assert _nt(old_book) == _nt(new_book)
    assert old_book.exceptAll(new_book).count() == 0
    assert new_book.exceptAll(old_book).count() == 0
    assert new_book.count() > 0

    old_codes = _old_encode(spark, SF, old_book, pred)
    new_codes = E._pq_encode(spark, SF, new_book, pred)
    assert _nt(old_codes) == _nt(new_codes)
    assert old_codes.exceptAll(new_codes).count() == 0
    assert new_codes.exceptAll(old_codes).count() == 0


def test_pq_demo_parts_match_exploded_join(spark):
    """The memoized 4-codeword demo-PQ bundle (embedding_pq_adc_knn /
    embedding_ivfpq_knn) must reproduce the r15 exploded-join chain
    bit-for-bit: codes via the HOF argmin, LUT via the q-only join."""
    from grapho_spark.queries import embeddings as E

    e = __import__("grapho_spark.tables", fromlist=["load_table"]).load_table(
        spark, SF, "embeddings"
    )
    expl = e.select("vec_id", F.posexplode("embedding").alias("pos0", "v")).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("pos0") / E._PQ_M).cast("int").alias("sub"),
        F.col("v").cast("double").cast("decimal(12,6)").alias("dv"),
    )
    cw = expl.groupBy((F.col("vec_id") % E._PQ_K).alias("grp"), "sub", "pos").agg(
        F.expr(E._MICRO_MEAN_CW_SPARK).alias("cw")
    )
    dvl = (F.col("dv") * 1000000).cast("long")
    cwl = (F.col("cw") * 1000000).cast("long")
    dists = (
        expl.join(F.broadcast(cw), ["sub", "pos"])
        .groupBy("vec_id", "sub", "grp")
        .agg(F.sum((dvl - cwl) * (dvl - cwl)).alias("dist"))
    )
    w_code = Window.partitionBy("vec_id", "sub").orderBy("dist", "grp")
    old_codes = (
        dists.withColumn("rn", F.row_number().over(w_code))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub", F.col("grp").alias("code"))
    )
    old_lut = dists.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("sub").alias("l_sub"),
        F.col("grp").alias("l_grp"),
        "dist",
    )
    new_codes, new_lut = E._pq_demo_parts(spark, SF)
    assert _nt(old_codes) == _nt(new_codes)
    assert old_codes.exceptAll(new_codes).count() == 0
    assert new_codes.exceptAll(old_codes).count() == 0
    assert _nt(old_lut) == _nt(new_lut)
    assert old_lut.exceptAll(new_lut).count() == 0
    assert new_lut.exceptAll(old_lut).count() == 0
    assert new_codes.count() > 0 and new_lut.count() > 0


def test_kmeans_pair_builds_once_under_concurrent_callers(spark):
    """The index build trains k-means on a pool thread while other
    threads may ask for the same configuration: every caller must get
    the one memoized pair, never a second build of its own."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from grapho_spark.queries import embeddings as E

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            futs = [
                ex.submit(E._kmeans_pair, spark, SF, 3, 1, False, "vec_id % 7 = 1")
                for _ in range(8)
            ]
            pairs = [f.result(timeout=600) for f in futs]
    finally:
        sys.setswitchinterval(old)
    assert len(pairs) == 8
    assert all(a is pairs[0][0] and c is pairs[0][1] for a, c in pairs)
    assert pairs[0][0].count() > 0


def test_topk_breaks_equal_cosines_by_smaller_vec_id(spark):
    from grapho_spark.queries import embeddings as E

    df = spark.createDataFrame(
        [(1, 9, 0.5), (1, 4, 0.5), (1, 7, 0.9), (1, 2, 0.1), (2, 3, 0.2), (2, 1, 0.2)],
        "q_id long, vec_id long, cosine double",
    )
    got = sorted(tuple(r) for r in E._top_cosine(df, "q_id", 2).collect())
    assert got == [(1, 4, 0.5), (1, 7, 0.9), (2, 1, 0.2), (2, 3, 0.2)]
    ranked = E._topk(df, "q_id", 3, F.desc("cosine"), "vec_id", rank="rk")
    assert [
        (r.vec_id, r.rk) for r in ranked.filter("q_id = 1").orderBy("rk").collect()
    ] == [(7, 1), (4, 2), (9, 3)]
    # the brute-force ground truth excludes the query itself and keeps
    # the smaller of two vec_ids at an equal cosine
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (3, [1.0, 0.0]), (2, [2.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    base = vecs.select("vec_id", *E._vec_norm("ev", "se"))
    top = E._exact_top(E._query_vecs(vecs, "vec_id = 0"), base, 1).collect()
    assert [(r.q_id, r.vec_id, r.cosine) for r in top] == [(0, 2, 1.0)]


def test_fan_in_returns_values_in_order_from_shuffled_input(spark):
    from grapho_spark.queries import embeddings as E

    rows = [(1, p, p * 10) for p in range(8)] + [(2, p, -p) for p in range(5)]
    random.Random(7).shuffle(rows)
    df = spark.createDataFrame(rows, "g long, pos int, val long").repartition(3)
    got = {
        r.g: (r.arr, r.dbl)
        for r in df.groupBy("g")
        .agg(
            E._fan_in("pos", "val").alias("arr"),
            E._fan_in("pos", "v2", F.col("val") * 2).alias("dbl"),
        )
        .collect()
    }
    assert got == {
        1: ([p * 10 for p in range(8)], [p * 20 for p in range(8)]),
        2: ([-p for p in range(5)], [-2 * p for p in range(5)]),
    }


def test_argmin_fold_breaks_equal_distances_by_smaller_id(spark):
    from grapho_spark.queries import embeddings as E

    # book deliberately NOT in id order: the tie-break must come from
    # the fold, not from the book's layout
    book = spark.createDataFrame(
        [([(5, [1, 0]), (3, [0, 1]), (9, [3, 3])],)],
        "book array<struct<cid: bigint, c: array<bigint>>>",
    )
    vecs = spark.createDataFrame(
        [(1, [0, 0]), (2, [3, 2])], "vec_id long, v array<bigint>"
    )
    got = {
        r.vec_id: r.cid
        for r in vecs.crossJoin(book)
        .select("vec_id", E._argmin_fold("v", "book", "c", "cid", "(x - y) * (x - y)").alias("cid"))
        .collect()
    }
    # vec 1: d(5) = d(3) = 1 < d(9) = 18 -> the smaller id 3;
    # vec 2: d(9) = 1 is the unique minimum
    assert got == {1: 3, 2: 9}


def test_sql_templates_render_unchanged():
    from grapho_spark.queries import embeddings as E

    assert E._MICRO_MEAN_CW_DUCK == (
        "CAST(CAST(CASE WHEN CAST(SUM(dv) * 1000000 AS BIGINT) >= 0 "
        "THEN (2 * CAST(SUM(dv) * 1000000 AS BIGINT) + COUNT(*)) // (2 * COUNT(*)) "
        "ELSE -((2 * -CAST(SUM(dv) * 1000000 AS BIGINT) + COUNT(*)) // (2 * COUNT(*))) "
        "END AS DOUBLE) / 1000000 AS DECIMAL(12,6))"
    )
    assert E._MICRO_MEAN_CW_SPARK == (
        "CAST(CAST(CASE WHEN SUM(CAST(dv * 1000000 AS BIGINT)) >= 0 "
        "THEN (2 * SUM(CAST(dv * 1000000 AS BIGINT)) + COUNT(*)) DIV (2 * COUNT(*)) "
        "ELSE -((2 * -SUM(CAST(dv * 1000000 AS BIGINT)) + COUNT(*)) DIV (2 * COUNT(*))) "
        "END AS DOUBLE) / 1000000 AS DECIMAL(12,6))"
    )
    assert E._MICRO_MEAN_DVM_SPARK == (
        "CAST(CAST(CASE WHEN SUM(dvm) >= 0 "
        "THEN (2 * SUM(dvm) + COUNT(*)) DIV (2 * COUNT(*)) "
        "ELSE -((2 * -SUM(dvm) + COUNT(*)) DIV (2 * COUNT(*))) "
        "END AS DOUBLE) / 1000000 AS DECIMAL(12,6))"
    )
    assert (
        "CAST(CAST(CASE WHEN CAST(SUM(e.dv) * 1000000 AS BIGINT) >= 0 "
        "THEN (2 * CAST(SUM(e.dv) * 1000000 AS BIGINT) + COUNT(*)) // (2 * COUNT(*)) "
        "ELSE -((2 * -CAST(SUM(e.dv) * 1000000 AS BIGINT) + COUNT(*)) // (2 * COUNT(*))) "
        "END AS DOUBLE) / 1000000 AS DECIMAL(12,6))"
    ) in E._duck_pq_trained_ctes()
    assert E._DUCK_IVF_CTE == """
centroids AS (
  SELECT label, i AS pos,
         CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(12,6))) AS DOUBLE) / COUNT(*) AS cval
  FROM embeddings, range(1, 65) t(i)
  GROUP BY label, i),
queries AS (
  SELECT vec_id AS q_id, label AS q_label, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id % 97 = 0),
q_exploded AS (
  SELECT q_id, i AS pos, qv[i] AS qval FROM queries, range(1, 65) t(i)),
q_dots AS (
  SELECT q_id, c.label,
         CAST(SUM(CAST(qval AS DECIMAL(12,6)) * CAST(cval AS DECIMAL(12,6))) AS DOUBLE) AS dot_d
  FROM q_exploded q JOIN centroids c ON q.pos = c.pos
  GROUP BY q_id, c.label),
assigned AS (
  SELECT q_id, label AS cell
  FROM (SELECT q_id, label, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot_d DESC, label) AS rn
        FROM q_dots)
  WHERE rn = 1)
"""
    # the multi-probe variant is the text the oracle used to derive by
    # editing the single-probe CTE
    assert E._DUCK_IVF_TEMPLATE.format(
        name="assigned_mp", cols=", rn", bound="<= 2"
    ) == E._DUCK_IVF_CTE.replace("assigned AS (", "assigned_mp AS (").replace(
        "WHERE rn = 1)", "WHERE rn <= 2)"
    ).replace("SELECT q_id, label AS cell", "SELECT q_id, label AS cell, rn")
