"""Engine facade tests: SQL over registered views, registry queries,
profiling, and the ETL lifecycle all behind one object."""

from __future__ import annotations

from pathlib import Path

import pytest

from etl_pipeline_project_auraverse_spark.engine import Engine

FIXTURES = Path(__file__).parent / "fixtures"


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(sf_dir, spark=spark)


def test_sql_over_views(engine):
    df = engine.sql(
        """
        SELECT n.n_name, COUNT(*) AS n_cust
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name ORDER BY n_cust DESC LIMIT 3
        """
    )
    rows = df.collect()
    assert len(rows) == 3
    assert rows[0]["n_cust"] >= rows[-1]["n_cust"]


def test_registry_query(engine):
    names = engine.queries()
    assert "q01_pricing_summary" in names and len(names) >= 60
    df = engine.query("q01_pricing_summary")
    assert df.collect()
    with pytest.raises(KeyError, match="unknown query"):
        engine.query("nope")


def test_profile_any_dataframe(engine):
    prof = engine.profile(engine.table("region"))
    by_name = {p["name"]: p for p in prof}
    assert by_name["r_regionkey"]["pk_candidate"] is True
    art = engine.schema_artifact(engine.table("region"))
    assert art["schema_id"].startswith("v") and len(art["fields"]) == 2


def test_run_etl_through_engine(engine, tmp_path):
    cfg = {
        "extract": {"type": "json", "source": str(FIXTURES / "simple.json"), "source_id": "eng"},
        "transform": {"drop_duplicates": True},
        "load": {"type": "csv", "destination": str(tmp_path / "out.csv")},
    }
    rep = engine.run_etl(cfg, schema_dir=str(tmp_path / "schemas"))
    # triple extraction (strict + {}-regex + []-regex) yields 6 rows;
    # dedup collapses the two tagged copies, keeping tagged + untagged
    assert rep.n_records == 4
    assert (tmp_path / "out.csv").exists()


def test_load_table_ntz_epoch_exact_in_any_session_tz(spark, tmp_path):
    """The defensive NTZ->LTZ normalization must map stored micros to
    epoch micros EXACTLY even when the caller session runs a non-UTC
    time zone (a bare cast would shift by the zone offset), and must
    leave the caller's inferTimestampNTZ conf untouched."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from etl_pipeline_project_auraverse_spark.session import load_table

    d = tmp_path / "tztest"
    d.mkdir()
    micros = 1_704_110_400_000_000  # 2024-01-01 12:00:00 UTC
    pq.write_table(
        pa.table(
            {
                "ts": pa.array([micros], type=pa.timestamp("us")),
                "x": pa.array([1], type=pa.int64()),
            }
        ),
        str(d / "weird.parquet"),
    )
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try:
        df = load_table(spark, str(d), "weird")
        assert dict(df.dtypes)["ts"] == "timestamp"
        [r] = df.select(F.unix_micros("ts").alias("e")).collect()
        assert r["e"] == micros
        # the caller's runtime conf survives the read
        assert (
            spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def test_load_table_nested_untagged_timestamp_epoch_exact(spark, tmp_path):
    """Nested untagged timestamps go through the PRIMARY path (NTZ
    inference disabled for the read), which maps stored micros to epoch
    directly at any nesting depth — even in a non-UTC caller session.
    (The nested-ntz ValueError guard in load_table is defense in depth
    for NTZ leaking past that conf; it is unreachable while the conf
    works, which this test demonstrates.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from etl_pipeline_project_auraverse_spark.session import load_table

    d = tmp_path / "nested"
    d.mkdir()
    micros = 1_704_110_400_000_000
    inner = pa.array([micros], type=pa.timestamp("us"))
    struct = pa.StructArray.from_arrays([inner], names=["t"])
    pq.write_table(pa.table({"s": struct}), str(d / "weird.parquet"))
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try:
        df = load_table(spark, str(d), "weird")
        assert "timestamp_ntz" not in df.schema.simpleString()
        [r] = df.select(F.unix_micros("s.t").alias("e")).collect()
        assert r["e"] == micros
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def test_read_save_roundtrip(engine, tmp_path):
    """Extension-routed read + partitioned save through the facade."""
    src = engine.table("nation")
    out = str(tmp_path / "nation_out")
    engine.save(src, out, partition_by=["n_regionkey"])
    back = engine.read(out + "/n_regionkey=0")  # partition-pruned path
    assert back.count() == src.filter("n_regionkey = 0").count()

    arrow = str(tmp_path / "nation.arrow")
    from tests.codec_builders import write_arrow_ipc_single

    write_arrow_ipc_single(src, arrow)
    assert engine.read(arrow).count() == src.count()


def test_engine_cdc_facade(spark, sf_dir):
    from etl_pipeline_project_auraverse_spark.engine import Engine

    eng = Engine(sf_dir, spark=spark)
    feed = spark.createDataFrame(
        [(1, 1, "U"), (1, 2, "U"), (2, 1, "D")], ["k", "seq", "op"]
    )
    snap = eng.apply_changes(feed, ["k"], ["seq"], op_col="op")
    assert {(r["k"], r["seq"]) for r in snap.collect()} == {(1, 2)}
    advanced = eng.merge_snapshot(
        snap, spark.createDataFrame([(3, 1, "U")], ["k", "seq", "op"]),
        ["k"], ["seq"], op_col="op",
    )
    assert {r["k"] for r in advanced.collect()} == {1, 3}


def test_engine_zorder_and_heavy_hitters(spark, sf_dir):
    from pyspark.sql import functions as F

    from etl_pipeline_project_auraverse_spark.engine import Engine

    eng = Engine(sf_dir, spark=spark)
    orders = eng.table("orders")
    clustered = eng.zorder_by(orders, ["o_custkey", "o_totalprice"], n_files=8)
    assert clustered.columns == orders.columns  # helper cols dropped
    assert clustered.count() == orders.count()
    # clustering bounds the price envelope per partition vs the raw scan
    spans = (
        clustered.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg((F.max("o_totalprice") - F.min("o_totalprice")).alias("span"))
        .agg(F.avg("span"))
        .first()[0]
    )
    full_span = orders.agg(
        F.max("o_totalprice") - F.min("o_totalprice")
    ).first()[0]
    assert spans < full_span * 0.8

    hh = eng.heavy_hitters(eng.table("events"), "event_type", phi=0.1)
    exact = {
        (r["event_type"], r["n_rows"])
        for r in eng.table("events").groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_rows")
        ).collect()
        if r["n_rows"] >= eng.table("events").count() * 0.1
    }
    assert {(r["event_type"], r["n_rows"]) for r in hh.collect()} == exact

    import pytest as _pytest

    with _pytest.raises(ValueError, match="phi"):
        eng.heavy_hitters(orders, "o_custkey", phi=0.001, k=10)


def test_engine_explain_reports_plan_quality(engine):
    rep = engine.explain("q01_pricing_summary")
    assert not rep["cartesian"]
    assert "FileScan" in rep["plan"]
    assert rep["unpartitioned_windows"] == 0
    assert any("l_" in c for c in rep["scan_columns"])
    # also accepts a raw DataFrame
    df = engine.table("region").filter("r_regionkey = 1").select("r_name")
    rep2 = engine.explain(df)
    assert rep2["pushed_filters"], "filter must reach the scan"
    assert rep2["scan_columns"] <= ["r_name", "r_regionkey"] or set(
        rep2["scan_columns"]
    ) <= {"r_name", "r_regionkey"}


def test_engine_scrub_bfs_decode_facades(engine, spark):
    from pyspark.sql import functions as F

    # PII scrub facade
    df = spark.createDataFrame(
        [(1, "mail a@b.io card 4242424242424242")], "doc_id long, text string"
    )
    row = engine.scrub_pii(df).collect()[0]
    assert row["email_count"] == 1 and row["card_count"] == 1
    assert "[EMAIL]" in row["text_scrubbed"]
    assert "4242" not in row["text_scrubbed"]

    # BFS facade
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 1)], "u long, v long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["min_hops"] for r in engine.bfs(edges, seeds, 4).collect()}
    assert got == {0: 0, 1: 1, 2: 2}

    # image decode facade (FAKEIMG path keeps it light)
    import struct as _s

    from etl_pipeline_project_auraverse_spark.operators.multimodal import FAKE_MAGIC

    payload = FAKE_MAGIC + _s.pack("<HHB", 2, 2, 1) + bytes([10, 20, 30, 40])
    imgs = spark.createDataFrame(
        [(7, bytearray(payload))], "doc_id long, content binary"
    )
    out = engine.decode_images(imgs).collect()[0]
    assert (out["width"], out["height"], out["mean_pixel"]) == (2, 2, 25.0)


def test_engine_hilbert_and_approx_quantiles(spark, sf_dir):
    from pyspark.sql import functions as F

    from etl_pipeline_project_auraverse_spark.engine import Engine

    eng = Engine(sf_dir, spark=spark)
    orders = eng.table("orders")
    clustered = eng.hilbert_by(orders, ["o_custkey", "o_totalprice"], n_files=8)
    assert clustered.columns == orders.columns
    assert clustered.count() == orders.count()
    spans = (
        clustered.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg((F.max("o_totalprice") - F.min("o_totalprice")).alias("span"))
        .agg(F.avg("span"))
        .first()[0]
    )
    full_span = orders.agg(
        F.max("o_totalprice") - F.min("o_totalprice")
    ).first()[0]
    assert spans < full_span * 0.8

    aq = eng.approx_quantiles(orders, "o_totalprice", [0.5, 0.9]).collect()[0]
    exact = orders.agg(
        F.percentile("o_totalprice", 0.5).alias("e50"),
        F.percentile("o_totalprice", 0.9).alias("e90"),
    ).first()
    assert abs(aq["p50"] - exact["e50"]) / exact["e50"] < 0.05
    assert abs(aq["p90"] - exact["e90"]) / exact["e90"] < 0.05


def test_engine_statistical_tests(spark, sf_dir):
    from pyspark.sql import functions as F

    from etl_pipeline_project_auraverse_spark.engine import Engine

    eng = Engine(sf_dir, spark=spark)
    li = eng.table("lineitem")

    rho = eng.spearman(li, ["l_quantity", "l_extendedprice"]).collect()
    assert len(rho) == 1 and -1.0 <= rho[0]["rho"] <= 1.0
    # rank correlation of a column with itself is exactly 1
    self_rho = eng.spearman(
        li.select("l_quantity", F.col("l_quantity").alias("q2")),
        ["l_quantity", "q2"],
    ).first()
    assert self_rho["rho"] == 1.0

    flagged = li.where(F.col("l_returnflag").isin("A", "R")).select(
        "l_extendedprice",
        F.when(F.col("l_returnflag") == "A", 1).otherwise(0).alias("flag"),
    )
    ks = eng.ks_test(flagged, "l_extendedprice", "flag").first()
    assert 0.0 <= ks["ks_stat"] <= 1.0
    assert ks["n_a"] > 0 and ks["n_b"] > 0

    mwu = eng.mwu_test(flagged, "l_extendedprice", "flag").first()
    # U is bounded by n_a*n_b and centred near n_a*n_b/2 for same-dist
    assert 0 <= mwu["u_stat"] <= mwu["n_a"] * mwu["n_b"]

    chi = eng.chi2_test(li, "l_returnflag", "l_linestatus").first()
    assert chi["chi2"] >= 0.0 and chi["dof"] == 2

    scored = li.select(
        F.col("l_quantity").cast("double").alias("s"),
        F.when(F.col("l_quantity") > 25, 1.0).otherwise(0.0).alias("y"),
    )
    auc = eng.auc(scored, "s", "y").first()
    assert auc["auc"] > 0.99  # score separates its own threshold label


def test_engine_welch_and_anova_against_closed_form(spark, sf_dir):
    """Welch t and ANOVA F checked against an algebraically different
    pure-Python formulation (statistics.mean/variance; SSB via
    Σ n_g (m_g − m)²) so an expression-order bug shared with the SQL
    oracle twin cannot slip through."""
    import statistics

    from pyspark.sql import functions as F  # noqa: F811

    from etl_pipeline_project_auraverse_spark.engine import Engine

    eng = Engine(sf_dir, spark=spark)
    a = [10.00, 12.50, 11.25, 14.75, 9.50]
    b = [20.00, 18.25, 25.50, 22.00]
    df = spark.createDataFrame(
        [(x, 1) for x in a] + [(x, 0) for x in b], "v double, flag int"
    )
    w = eng.welch_test(df, "v", "flag", scale=100).first()
    ma, mb = statistics.mean(a), statistics.mean(b)
    va, vb = statistics.variance(a), statistics.variance(b)
    se_a, se_b = va / len(a), vb / len(b)
    t_exp = (ma - mb) / (se_a + se_b) ** 0.5
    dof_exp = (se_a + se_b) ** 2 / (
        se_a**2 / (len(a) - 1) + se_b**2 / (len(b) - 1)
    )
    assert w["n_a"] == len(a) and w["n_b"] == len(b)
    assert w["mean_a"] == pytest.approx(ma, abs=1e-6)
    assert w["mean_b"] == pytest.approx(mb, abs=1e-6)
    assert w["t_stat"] == pytest.approx(t_exp, abs=2e-6)
    assert w["dof"] == pytest.approx(dof_exp, abs=2e-6)

    groups = {"x": a, "y": b, "z": [15.00, 16.50, 14.25]}
    rows = [(v, g) for g, vs in groups.items() for v in vs]
    gdf = spark.createDataFrame(rows, "v double, g string")
    f = eng.anova_test(gdf, "v", "g", scale=100).first()
    allv = [v for vs in groups.values() for v in vs]
    grand = statistics.mean(allv)
    ssb = sum(
        len(vs) * (statistics.mean(vs) - grand) ** 2
        for vs in groups.values()
    )
    ssw = sum(
        (len(vs) - 1) * statistics.variance(vs) for vs in groups.values()
    )
    k, n = len(groups), len(allv)
    f_exp = (ssb / (k - 1)) / (ssw / (n - k))
    assert f["k"] == k and f["n_total"] == n
    assert f["f_stat"] == pytest.approx(f_exp, rel=1e-6)


def test_engine_video_and_hybrid_facades(engine, spark, sf_dir):
    from tests.test_mp4 import synth_mp4_bytes

    df = spark.createDataFrame(
        [(0, bytearray(synth_mp4_bytes())), (9, bytearray(b"junk"))],
        "doc_id long, content binary",
    )
    meta = engine.video_metadata(df).collect()
    assert {r.handler for r in meta} == {"vide", "soun"}
    frames = engine.sample_video_frames(df, every_n=5).collect()
    assert [r.sample_idx for r in frames] == [0, 5]

    top = engine.hybrid_search(sf_dir).collect()
    assert 0 < len(top) <= 15
    assert top[0].rank == 1
