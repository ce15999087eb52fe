"""Unit tests for the operator library on tiny literal DataFrames:
nulls, empties, duplicates, unicode — plus property-style checks
(dedup idempotence, union additivity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_tool_spark.operators import dedup as DD
from data_ingestion_tool_spark.operators import similarity as SIM
from data_ingestion_tool_spark.operators import text as TX


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different content about spark engines"),
        (5, ""),  # empty
        (6, "   "),  # whitespace only
        (7, "unicode déjà vu naïve café"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_tokens_empty_and_whitespace(spark, docs):
    out = docs.select("doc_id", TX.token_count("text").alias("n")).collect()
    n = {r["doc_id"]: r["n"] for r in out}
    assert n[5] == 0 and n[6] == 0
    assert n[1] == 9
    assert n[7] == 5


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [(1, "  Hello World  "), (2, "hello world")], "id int, text string"
    )
    hashes = [r[0] for r in df.select(TX.fingerprint("text")).collect()]
    assert hashes[0] == hashes[1]


def test_exact_dedup_by_content(spark, docs):
    out = DD.exact_dedup_by_content(docs)
    rows = {r["keeper_id"]: r["n_copies"] for r in out.collect()}
    assert rows[1] == 2  # docs 1+2 collapse, min id kept
    assert 2 not in rows


def test_exact_dedup_idempotent(spark, docs):
    once = DD.exact_dedup(docs, ["text"])
    twice = DD.exact_dedup(once, ["text"])
    assert sorted(r["doc_id"] for r in once.collect()) == sorted(
        r["doc_id"] for r in twice.collect()
    )


def test_minhash_finds_near_dup_not_distinct(spark, docs):
    pairs = DD.minhash_near_dup_pairs(
        docs.filter("doc_id <= 4"), jaccard_threshold=0.3
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got  # exact dup
    assert (1, 3) in got or (2, 3) in got  # near dup
    assert not any(4 in p for p in got)  # distinct doc stays out


def test_simhash_exact_dup_zero_distance(spark, docs):
    pairs = DD.simhash_near_dup_pairs(docs.filter("doc_id <= 4"), max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 2)] == 0


def test_ngram_jaccard_exact_dup_is_one(spark, docs):
    pairs = DD.ngram_jaccard_pairs(
        docs.filter("doc_id <= 4"), threshold=0.99
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_lang_id_basic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and the dog is not"),
            (2, "der Hund ist nicht in der Schule und das ist gut"),
            (3, "le chat est dans la maison et le chien est las"),
            (4, "xyzzy qwerty plugh"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r["pred_lang"] for r in TX.lang_id(df).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "fr" and out[4] == "und"


def test_cosine_topk_self_similarity(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),  # closest to 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = SIM.cosine_topk(emb, emb.filter("vec_id = 1"), k=2).collect()
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] == [2, 3]
    assert not any(r["neighbor_id"] == 1 for r in out)  # self excluded


@pytest.mark.parametrize("n_parts", [1, 3, 7])
def test_cosine_topk_ties_keep_documented_order_under_any_partitioning(
    spark, n_parts
):
    """More than k neighbours tie at score 1.0: the answer is the k
    smallest neighbor_ids (score desc, neighbor_id asc), however the
    corpus is partitioned into batches."""
    k = 4
    direction = [0.0, 0.0, 2.0, 0.0]
    collinear = list(range(5, 70, 4))  # 16 ids, > k
    rows = [(1, direction)]
    for i, vid in enumerate(collinear):
        # power-of-two multiples normalise to the query's exact unit vector
        rows.append((vid, [x * 2.0 ** (i % 7 - 3) for x in direction]))
    for vid in range(2, 80):
        if vid not in collinear:
            axis = (0, 1, 3)[vid % 3]
            rows.append((vid, [float(vid) if j == axis else 0.0 for j in range(4)]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = SIM.cosine_topk(
        emb.repartition(n_parts), emb.filter("vec_id = 1"), k=k
    ).collect()
    got = sorted((r["rank"], r["neighbor_id"], r["score"]) for r in out)
    assert got == [(i + 1, vid, 1.0) for i, vid in enumerate(collinear[:k])]


def test_union_all_count_additivity(spark, sf_dir):
    from data_ingestion_tool_spark.sources.parquet_io import read_table

    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("k")
    )
    s = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("k")
    )
    assert c.unionAll(s).count() == c.count() + s.count()


def test_profile_expectations(spark, sf_dir):
    """profile_table metrics + expect() violation semantics."""
    from data_ingestion_tool_spark.operators.profile import expect, profile_table
    from data_ingestion_tool_spark.sources.parquet_io import read_table

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (2, None, 3.0)],
        "id int, s string, v double",
    )
    prof = profile_table(df)
    p = {r.col_name: r for r in prof.collect()}
    assert p["id"].n_rows == 3 and p["id"].n_nulls == 0
    assert p["id"].n_distinct == 2 and p["id"].min_num == 1.0
    assert p["s"].n_nulls == 1 and p["s"].min_str == "a" and p["s"].max_str == "b"
    assert p["v"].n_nulls == 1 and p["v"].max_num == 3.0
    # expectations: id unique fails (dup 2), v range [0, 10] holds
    assert expect(prof, "id", unique=True).count() == 1
    assert expect(prof, "v", min_num=0.0, max_num=10.0).count() == 0
    assert expect(prof, "v", max_num=2.0).count() == 1
    assert expect(prof, "s", max_null_fraction=0.1).count() == 1
    # one-scan property on a real table: single aggregate job
    from data_ingestion_tool_spark.plans import exchange_count

    real = profile_table(
        read_table(spark, sf_dir, "lineitem"), ["l_orderkey", "l_returnflag"]
    )
    assert exchange_count(real) <= 2  # partial agg, no Expand (approx distinct)
    assert "Expand" not in real._jdf.queryExecution().executedPlan().toString()


def test_profile_approx_distinct_accuracy(spark, sf_dir):
    """Default (HLL) n_distinct stays within 5% of exact on real
    lineitem columns — the accuracy contract for the no-Expand default
    path (rsd=0.02)."""
    from data_ingestion_tool_spark.operators.profile import profile_table
    from data_ingestion_tool_spark.sources.parquet_io import read_table

    cols = ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"]
    l = read_table(spark, sf_dir, "lineitem")
    approx = {
        r.col_name: r.n_distinct for r in profile_table(l, cols).collect()
    }
    exact = {
        r.col_name: r.n_distinct
        for r in profile_table(l, cols, exact_distinct=True).collect()
    }
    for c in cols:
        assert exact[c] > 0
        rel_err = abs(approx[c] - exact[c]) / exact[c]
        assert rel_err < 0.05, f"{c}: approx={approx[c]} exact={exact[c]}"


def test_profile_expect_misconfiguration_raises(spark):
    """expect() must fail loudly on a typo'd column or a numeric-range
    expectation over a non-numeric column — never silently pass."""
    import pytest

    from data_ingestion_tool_spark.operators.profile import expect, profile_table

    prof = profile_table(
        spark.createDataFrame([(1, "a")], "id int, s string")
    )
    with pytest.raises(ValueError, match="not in the profile"):
        expect(prof, "id_typo", unique=True)
    with pytest.raises(ValueError, match="no numeric range"):
        expect(prof, "s", min_num=0.0)


def test_sentinel_bypass_join_rejects_none_sentinel(spark):
    import pytest

    from data_ingestion_tool_spark.operators.skew import sentinel_bypass_join

    big = spark.createDataFrame([(1, 10)], "row_id long, k int")
    right = spark.createDataFrame([(10, "a")], "rk int, tag string")
    with pytest.raises(ValueError, match="concrete value"):
        sentinel_bypass_join(big, right, on="k", right_on="rk", sentinel=None)


def test_observed_write_metrics_single_job(spark, sf_dir, tmp_path):
    """Observation metrics arrive from the write job itself — values
    must equal a ground-truth re-scan, with no second read needed."""
    from pyspark.sql import functions as F

    from data_ingestion_tool_spark.operators.profile import observed_write_metrics
    from data_ingestion_tool_spark.sources.parquet_io import read_table

    o = read_table(spark, sf_dir, "orders").limit(5000)
    dest = str(tmp_path / "obs_out")
    m = observed_write_metrics(
        o, dest, count_cols=("o_orderstatus",), sum_cents_col="o_totalprice"
    )
    back = spark.read.parquet(dest)
    truth = back.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_orderstatus").alias("ns"),
        F.sum(
            F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        ).alias("sc"),
    ).collect()[0]
    assert m["n_rows"] == truth.n > 0
    assert m["n_o_orderstatus"] == truth.ns
    assert m["sum_cents"] == truth.sc


def test_cosine_range_search_edges(spark):
    from data_ingestion_tool_spark.operators.similarity import cosine_range_search

    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.0]),      # identical to 0 -> cosine 1.0
        (2, [0.0, 1.0]),      # orthogonal
        (3, [-1.0, 0.0]),     # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id = 0")
    # tau=0.5: only the identical vector qualifies; self-match excluded
    got = cosine_range_search(df, q, tau=0.5).collect()
    assert {(r.query_id, r.neighbor_id) for r in got} == {(0, 1)}
    assert abs(got[0].score - 1.0) < 1e-12
    # tau above every score -> empty frame, schema intact
    empty = cosine_range_search(df, q, tau=1.5)
    assert empty.count() == 0
    assert empty.columns == ["query_id", "neighbor_id", "score"]
    # tau=-1 catches everything except self
    allr = cosine_range_search(df, q, tau=-1.0).collect()
    assert {r.neighbor_id for r in allr} == {1, 2, 3}


def test_pagerank_brands_mass_conservation(spark):
    """Damped PageRank over a connected undirected graph preserves
    total mass: sum of ranks == 1 (within quantization tolerance)."""
    from data_ingestion_tool_spark.queries import QUERIES

    out = QUERIES["graph_pagerank_brands"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    total = sum(r.pagerank for r in out)
    assert abs(total - 1.0) < 1e-6, total
    assert all(r.pagerank > 0 for r in out)
