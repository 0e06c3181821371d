"""Pins for the round-13 ADVICE fixes (the test_advice_r12 precedent):
single-strip TIFF conformance, empty-query-set GEMM guard, the
SemDeDup k constant share, and the chosen-attempt telemetry."""

from __future__ import annotations

import numpy as np


def test_single_strip_tiff_is_conforming_and_decodes():
    """ADVICE r12: a count-1 StripOffsets/StripByteCounts LONG must be
    stored INLINE per TIFF 6.0 — the writer used to emit an external
    array for it. A height <= rows_per_strip image now round-trips."""
    from etl_pipeline_project_auraverse_spark.operators.multimodal import (
        _decode_image_bytes,
        synth_tiff_packbits_bytes,
    )

    for d in (0, 3, 42):
        w0, h0 = 8, 2  # rows_per_strip = 2 -> exactly one strip
        w, h, c, px = _decode_image_bytes(synth_tiff_packbits_bytes(d, w0, h0))
        assert (w, h, c) == (w0, h0, 1)
        g = np.asarray(px, dtype=np.int64).reshape(h, w)
        for y in range(h):
            for x in range(w):
                want = (
                    (d * 31 + (y * w0) * 7) % 256
                    if y % 3 == 2
                    else (d * 31 + (y * w0 + x) * 7) % 256
                )
                assert g[y, x] == want, (d, y, x)


def test_gemm_partial_topk_empty_query_set(spark):
    """ADVICE r12: an empty q_rows used to build a 1-D empty Q and
    IndexError inside the block scorer; it must return an empty frame
    with the right schema instead."""
    from etl_pipeline_project_auraverse_spark.queries.similarity import (
        gemm_partial_topk,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    out = gemm_partial_topk(emb, [], 5, score="cosine")
    assert out.columns == ["query_id", "cand_id", "cos_sim"]
    assert out.count() == 0
    out_ip = gemm_partial_topk(emb, [], 5, score="dot")
    assert out_ip.columns == ["query_id", "cand_id", "ip"]
    assert out_ip.count() == 0


def test_semdedup_spark_arm_shares_ivt_k():
    """ADVICE r12: the Spark arm hardcoded k=8 while the oracle's seed
    CTE derives from IVT_K — they must share the constant so changing
    IVT_K can't silently break parity."""
    import inspect

    from etl_pipeline_project_auraverse_spark.queries.dedup import (
        q_semdedup_clusters,
    )

    src = inspect.getsource(q_semdedup_clusters)
    assert "IVT_K" in src
    assert "sf_dir, 8," not in src  # the old literal call shape


def test_bench_preceding_line_carries_chosen_attempt():
    """ADVICE r12: readers must be able to discount warm-JIT headline
    minima — the preceding info line records which attempt the final
    line carries. (It lives there, NOT on the final line: the final
    render sits at 1780 chars of its 1800 budget.)"""
    import inspect

    import bench

    src = inspect.getsource(bench.main)
    assert '"chosen_attempt": attempts.index(best)' in src
    # and the final line stays chosen_attempt-free (the size contract)
    assert "chosen_attempt" not in inspect.getsource(bench.render_final_line)


def test_np_block_sqdist_matches_engine_fold():
    """The k-center GEMM port's distance block must reproduce the
    engines' left-assoc fold and half-away rounding exactly."""
    from etl_pipeline_project_auraverse_spark.queries._util import (
        np_block_sqdist,
        round_half_up,
    )

    rng = np.random.RandomState(7)
    C = rng.uniform(-1, 1, size=(5, 9))
    Q = rng.uniform(-1, 1, size=(3, 9))
    S = np_block_sqdist(C, Q)
    for i in range(5):
        for j in range(3):
            acc = 0.0
            for d in range(9):
                diff = C[i, d] - Q[j, d]
                acc = acc + diff * diff  # engine fold order
            assert S[i, j] == round_half_up(acc, 6), (i, j)
