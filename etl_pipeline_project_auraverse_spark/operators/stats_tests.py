"""Generic distributed statistical tests — the canonical
implementations behind the ``robust``-family queries and the
``Engine`` facade.

Every test follows the engine's exactness contract (sufficient
statistics accumulate as integers/DECIMAL, doubles only in the final
1-row assembly, 6dp rounding) and its scale contract (value-grouped
aggregates + the two-level prefix sums of ``operators/ranks.py`` —
never a global single-task window, never per-row rank joins where the
Σc·rank2 identity avoids them).

Reference parity: /root/reference/backend/etl_pipeline.py (322-line
pandas ETL) has no statistical testing at all; this module is part of
the beyond-reference analytics surface (SURVEY.md §2.5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_pipeline_project_auraverse_spark.cache import (
    local_checkpoint_tracked,
    persist_tracked,
    register_checkpoint_ids,
)
from etl_pipeline_project_auraverse_spark.operators.ranks import (
    ordered_prefix_sums,
)


def _dec(col: Column) -> Column:
    return col.cast("decimal(19,0)")


# Columns with at most this many distinct values get their whole
# tie-averaged rank map inlined as a literal CASE/map expression — no
# join, no broadcast, evaluated inside the scan stage's codegen.
_LITERAL_RANK_LIMIT = 256
# All literal-map columns share ONE joint-histogram job when the
# product of their cardinalities stays collectable; the per-column
# counts are marginals of the joint table.
_JOINT_HIST_LIMIT = 65_536


def _rank2_dict(counts: dict) -> list:
    """value -> 2x tie-averaged ascending rank, flattened for
    F.create_map: rank2(v) = 2*(rows below v) + count(v) + 1."""
    out, cum = [], 0
    for v in sorted(counts):
        cnt = counts[v]
        out += [F.lit(v), F.lit(2 * cum + cnt + 1)]
        cum += cnt
    return out


def spearman(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Spearman rank correlations of ``cols``.

    Returns one row per unordered pair: ``col_x, col_y, rho``.
    Tie-averaged doubled ranks (exact BIGINTs) attach without any
    rank-map JOIN: low-cardinality columns inline their whole rank map
    as a literal map expression (one joint-histogram job builds every
    map), and high-cardinality columns get per-row ranks from a range
    repartition + pid-partitioned window + driver-collected partition
    offsets (the ``operators/ranks.py`` two-level scheme, fused into
    the row stream instead of joined back). Sufficient statistics in
    DECIMAL(19,0) products (exact past 10^12 rows), Pearson assembly
    in doubles.

    r14: when at most ONE column is high-cardinality (the common shape
    — one continuous measure among enum-like ones) every sufficient
    statistic collapses onto the big column's DISTINCT-VALUE aggregate
    via the Σc·rank2 identity (the same move ``mann_whitney`` /
    ``roc_auc`` use): rank2_big is a function of the value alone
    (2·cum − cnt + 1 from the two-level prefix sum), so
    Σ r2_big·r2_small = Σ_v r2_big(v)·S_small(v) with
    S_small(v) = Σ_rows r2_small accumulated in the same value-grouped
    aggregate, and all small-only statistics are exact integer folds of
    the joint histogram on the driver. The full-frame range shuffle,
    both Sort+Window passes, and the 15-decimal-product row aggregate
    disappear (guide §2.3/§2.4); per-row work drops to |small| literal
    map lookups. Falls back to the row-level scheme when two or more
    columns are high-cardinality or the joint histogram is too wide.
    """
    from collections import defaultdict

    from pyspark.sql.window import Window

    pairs = [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    # Listwise null handling: ranks are computed on the
    # listwise-deleted frame (na.drop over ALL ranked columns first,
    # then rank). NOTE this differs from the old join formulation on
    # partially-null inputs — there, each column's rank map was built
    # over that column's non-null values (including rows later dropped
    # by the inner join), so rank VALUES (and rho) could differ. The
    # two agree whenever every ranked column is null-free, which holds
    # for the lineitem measures the committed oracle runs on; callers
    # with partial nulls get rank-after-listwise-deletion semantics
    # (scipy's `spearmanr(nan_policy='omit')` pairwise analogue does
    # the same per-pair).
    # NOT persisted: the three consumers (cardinality sketch, joint
    # histogram, value-grouped aggregate) each re-scan the 4-column
    # parquet projection — cheaper than a cache round-trip locally and
    # the only sane posture at 100 TB (guide §5: cache only when
    # recompute costs more than the memory pressure it creates). The
    # row-level fallback path below checkpoints one range split per big
    # column.
    base = df.na.drop(subset=cols).select(*cols)
    # Path decision only — both paths are exact for ANY cardinality
    # (the literal map is built from the actual groupBy; the limit just
    # bounds map-expression size), so a single-pass HLL estimate
    # replaces the exact countDistinct: the exact version's per-column
    # expand multiplies shuffle input by the column count at real scale
    # while the HLL sketch stays one pass, map-side combined. HLL++ is
    # deterministic (order-independent register max), and a
    # near-threshold misestimate merely picks the other exact path —
    # so the decision tolerates a loose rsd. Measured on the cached
    # sf0.1 base (warm): rsd 0.02 is SLOWER than exact (1.2 s vs
    # 1.0 s — the high-precision sketch's per-row update dominates);
    # rsd 0.05 is 0.45 s with estimates within 2% on these columns.
    nd = base.agg(
        *[F.approx_count_distinct(c, 0.05).alias(c) for c in cols]
    ).collect()[0]
    small = [c for c in cols if nd[c] <= _LITERAL_RANK_LIMIT]
    big = [c for c in cols if nd[c] > _LITERAL_RANK_LIMIT]

    rank_expr: dict = {}
    joint_cells = None  # collected joint histogram rows (small cols)
    if small:
        joint_card = 1
        for c in small:
            joint_card *= max(nd[c], 1)
        counts: dict[str, dict] = {c: defaultdict(int) for c in small}
        if joint_card <= _JOINT_HIST_LIMIT:
            joint_cells = base.groupBy(*small).count().collect()
            for r in joint_cells:
                for c in small:
                    counts[c][r[c]] += r["count"]
        else:  # marginals too wide jointly — one tiny job per column
            for c in small:
                for r in base.groupBy(c).count().collect():
                    counts[c][r[c]] += r["count"]
        for c in small:
            rank_expr[c] = F.element_at(
                F.create_map(*_rank2_dict(dict(counts[c]))), F.col(c)
            )

    if len(big) <= 1 and small and joint_cells is not None:
        return _spearman_value_grouped(
            base, cols, pairs, big, small, counts, joint_cells, rank_expr
        )

    cur = base
    for c in big:
        # Same-valued rows always share a range partition (Spark's
        # RangePartitioner sends equal keys to one partition), so the
        # pid-local tie count is the global one and rank2 =
        # 2*(pid_offset + local_rank - 1) + tie_count + 1 is exact.
        # The pid offset table is <= shuffle.partitions entries —
        # inlined as a literal map, not joined. The offsets are counted
        # on this frame and applied to it, so it must be range-split
        # exactly once (a re-execution re-samples the bounds): an eager
        # checkpoint, whose lost block fails the query loudly.
        cur, ids = local_checkpoint_tracked(
            cur.repartitionByRange(F.col(c)).withColumn(
                "__pid", F.spark_partition_id()
            )
        )
        register_checkpoint_ids(cur.sparkSession, ids)
        offs, acc = [], 0
        for r in sorted(
            cur.groupBy("__pid").count().collect(), key=lambda r: r["__pid"]
        ):
            offs += [F.lit(r["__pid"]), F.lit(acc)]
            acc += r["count"]
        off = F.element_at(F.create_map(*offs), F.col("__pid"))
        w_rank = Window.partitionBy("__pid").orderBy(c)
        w_tie = Window.partitionBy("__pid", c)
        cur = cur.withColumn(
            f"__r2_{c}",
            (
                2 * (off + F.rank().over(w_rank) - 1)
                + F.count(F.lit(1)).over(w_tie)
                + 1
            ).cast("long"),
        ).drop("__pid")

    f = cur
    d = lambda c: _dec(  # noqa: E731
        rank_expr[c] if c in rank_expr else F.col(f"__r2_{c}")
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.sum(d(c)).alias(f"s_{c}"))
        aggs.append(F.sum(d(c) * d(c)).alias(f"q_{c}"))
    for x, y in pairs:
        aggs.append(F.sum(d(x) * d(y)).alias(f"p_{x}_{y}"))
    return _spearman_assemble(f.agg(*aggs), pairs)


def _spearman_assemble(s: DataFrame, pairs: list[tuple]) -> DataFrame:
    """Shared Pearson-on-ranks assembly over the 1-row sufficient-
    statistics frame ``s`` (columns n, s_c, q_c, p_x_y): identical
    double arithmetic regardless of which plan produced the sums.

    One explode projection instead of a |pairs|-way union of selects:
    the union's branches each re-read the (1-row) aggregate subtree —
    under a lazy persist they raced and recomputed the whole upstream
    once per pair — while a single projection computes the aggregate
    exactly once with no cache at all."""
    structs = []
    for x, y in pairs:
        n = F.col("n")
        num = n * F.col(f"p_{x}_{y}").cast("double") - (
            F.col(f"s_{x}").cast("double") * F.col(f"s_{y}").cast("double")
        )
        dx = n * F.col(f"q_{x}").cast("double") - (
            F.col(f"s_{x}").cast("double") * F.col(f"s_{x}").cast("double")
        )
        dy = n * F.col(f"q_{y}").cast("double") - (
            F.col(f"s_{y}").cast("double") * F.col(f"s_{y}").cast("double")
        )
        structs.append(
            F.struct(
                F.lit(x).alias("col_x"),
                F.lit(y).alias("col_y"),
                F.round(num / F.sqrt(dx * dy), 6).cast("double").alias("rho"),
            )
        )
    return (
        s.select(F.explode(F.array(*structs)).alias("__t"))
        .select("__t.*")
        .orderBy("col_x", "col_y")
    )


def _spearman_value_grouped(
    base: DataFrame,
    cols: list[str],
    pairs: list[tuple],
    big: list[str],
    small: list[str],
    counts: dict,
    joint_cells: list,
    rank_expr: dict,
) -> DataFrame:
    """Spearman sufficient statistics with ≤ 1 high-cardinality column.

    Small-only statistics are exact integer folds of the collected
    joint histogram (Python ints — no overflow ceiling, no Spark job).
    Statistics touching the big column ride ONE value-grouped aggregate
    of the big column: per distinct value v the aggregate carries the
    row count and S_c(v) = Σ rank2_small, the two-level prefix sum
    turns the counts into rank2_big(v) = 2·cum − cnt + 1, and a final
    tiny aggregate over the distinct-value table (never the raw rows)
    forms Σ cnt·r2, Σ cnt·r2² and Σ r2·S_c in DECIMAL — the same
    integer-exact values the row-level plan sums, bit-identical by
    construction. The 1-row frame then feeds the shared assembly with
    driver-side integers attached as DECIMAL(38,0) literals.
    """
    # rank2 maps as plain ints: rank2(v) = 2·(rows below) + cnt + 1
    r2map: dict[str, dict] = {}
    for c in small:
        m, cum = {}, 0
        for v in sorted(counts[c]):
            cnt = counts[c][v]
            m[v] = 2 * cum + cnt + 1
            cum += cnt
        r2map[c] = m

    n_total = sum(r["count"] for r in joint_cells)
    lits: dict[str, int] = {}
    for c in small:
        lits[f"s_{c}"] = sum(
            counts[c][v] * r2 for v, r2 in r2map[c].items()
        )
        lits[f"q_{c}"] = sum(
            counts[c][v] * r2 * r2 for v, r2 in r2map[c].items()
        )
    for x, y in pairs:
        if x in small and y in small:
            lits[f"p_{x}_{y}"] = sum(
                r["count"] * r2map[x][r[x]] * r2map[y][r[y]]
                for r in joint_cells
            )

    def lit38(val: int) -> F.Column:
        return F.lit(str(val)).cast("decimal(38,0)")

    if not big:
        spark = base.sparkSession
        s = spark.range(1).select(
            F.lit(n_total).alias("n"),
            *[lit38(v).alias(k) for k, v in lits.items()],
        )
        return _spearman_assemble(s, pairs)

    b = big[0]
    # S_c(v) = Σ rank2_small accumulates as a hi/lo LONG pair instead
    # of one DECIMAL sum: decimal aggregation buffers cost ~2x the
    # whole-stage-codegen long path on the full-row aggregate
    # (measured: 1.15 s -> 0.63 s for this stage at sf0.1). Exactness:
    # rank2 ≤ 2n+1, so Σ(rank2 >> 20) ≤ n·(2n+1)/2^20 and
    # Σ(rank2 & 0xFFFFF) ≤ n·2^20 — both under the BIGINT ceiling up
    # to n ≈ 2·10^12 rows, same order as the decimal(29,0) headroom
    # the row-level plan relies on; reconstruction 2^20·Σhi + Σlo is
    # exact DECIMAL on the distinct-value table only.
    _SHIFT = 20
    _MASK = (1 << _SHIFT) - 1

    def _hilo(c: str) -> list[Column]:
        r2 = rank_expr[c].cast("long")
        return [
            F.sum(F.shiftright(r2, _SHIFT)).alias(f"__Shi_{c}"),
            F.sum(r2.bitwiseAND(F.lit(_MASK))).alias(f"__Slo_{c}"),
        ]

    gt = base.groupBy(b).agg(
        F.count(F.lit(1)).alias("__cnt"),
        *[e for c in small for e in _hilo(c)],
    )
    ct = ordered_prefix_sums(gt, b, ["__cnt"])
    r2b = _dec(2 * F.col("cum___cnt") - F.col("__cnt") + 1)
    cntd = _dec(F.col("__cnt"))

    def _S(c: str) -> Column:
        return (
            _dec(F.col(f"__Shi_{c}")) * F.lit(1 << _SHIFT)
            + F.col(f"__Slo_{c}")
        ).cast("decimal(38,0)")

    aggs = [
        F.sum("__cnt").alias("n"),
        F.sum(cntd * r2b).alias(f"s_{b}"),
        F.sum(cntd * r2b * r2b).alias(f"q_{b}"),
    ]
    for x, y in pairs:
        if x == b or y == b:
            other = y if x == b else x
            aggs.append(F.sum(r2b * _S(other)).alias(f"p_{x}_{y}"))
    s = ct.agg(*aggs).select(
        "*", *[lit38(v).alias(k) for k, v in lits.items()]
    )
    return _spearman_assemble(s, pairs)


def ks_2sample(df: DataFrame, value_col: str, flag_col: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the rows
    where ``flag_col`` = 1 and those where it is 0.

    Returns one row: ``n_a, n_b, ks_stat, ks_at_value`` (the value
    where the ECDF gap peaks; smallest such value on ties). The sup is
    taken over integer cross-multiplied cumulative counts, so max and
    argmax are deterministic; division to double happens once.
    """
    # persisted (r14): dtab feeds BOTH the totals aggregate and the
    # prefix-sum range shuffle — without the cache the value-grouped
    # scan+aggregate ran twice (once under the tot broadcast job, once
    # materializing the prefix shuffle)
    # cache pays at sf0.1: q_ks_price_by_returnflag 2.54 s, 2.88 s without
    dtab = persist_tracked(
        df.groupBy(F.col(value_col).alias("p")).agg(
            F.sum(flag_col).alias("c1"),
            (F.count(F.lit(1)) - F.sum(flag_col)).alias("c2"),
        )
    )
    # cache pays at sf0.1: q_ks_price_by_returnflag 2.81 s, 2.92 s without
    tot = persist_tracked(
        dtab.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    )
    c = ordered_prefix_sums(dtab, "p", ["c1", "c2"])
    j = c.crossJoin(F.broadcast(tot)).select(
        "p",
        F.abs(
            _dec(F.col("cum_c1")) * _dec(F.col("n2"))
            - _dec(F.col("cum_c2")) * _dec(F.col("n1"))
        ).alias("diff"),
    )
    # max AND argmax in ONE top-1 pass (r14): the sup row's diff IS the
    # max, so the old two-job pair (agg(max) + orderBy().limit(1)) over
    # a persisted intermediate collapses to a single TakeOrdered job
    # and the persist disappears. Ties resolve to the smallest value —
    # identical to the old argmax ordering.
    top = (
        j.orderBy(F.col("diff").desc(), F.col("p").asc())
        .limit(1)
        .select(
            F.col("diff").alias("dmax"),
            F.col("p").cast("double").alias("ks_at_value"),
        )
    )
    return (
        tot.crossJoin(F.broadcast(top))
        .select(
            F.col("n1").cast("long").alias("n_a"),
            F.col("n2").cast("long").alias("n_b"),
            F.round(
                F.col("dmax").cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double")),
                6,
            )
            .cast("double")
            .alias("ks_stat"),
            "ks_at_value",
        )
    )


def mann_whitney(df: DataFrame, value_col: str, flag_col: str) -> DataFrame:
    """Tie-corrected Mann-Whitney U between ``flag_col`` = 1 and = 0.

    Returns one row: ``n_a, n_b, u_stat, z_score``. Uses the
    Σc·rank2 identity over the distinct-value aggregate — no per-row
    rank join; the tie term Σ(t³−t) falls out of the same pass.
    """
    dtab = df.groupBy(F.col(value_col).alias("p")).agg(
        F.sum(flag_col).alias("c1"), F.count(F.lit(1)).alias("cnt")
    )
    c = ordered_prefix_sums(dtab, "p", ["cnt"])
    s = c.agg(
        F.sum("c1").alias("n1"),
        (F.sum("cnt") - F.sum("c1")).alias("n2"),
        F.sum(
            _dec(F.col("c1")) * _dec(2 * F.col("cum_cnt") - F.col("cnt") + 1)
        ).alias("r2sum"),
        F.sum(
            _dec(F.col("cnt")) * _dec(F.col("cnt")) * _dec(F.col("cnt"))
            - _dec(F.col("cnt"))
        ).alias("t3"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    r2d = F.col("r2sum").cast("double")
    t3d = F.col("t3").cast("double")
    u1 = (r2d - n1d * (n1d + 1)) / 2
    var = (
        n1d * n2d / 12
        * ((n1d + n2d + 1) - t3d / ((n1d + n2d) * (n1d + n2d - 1)))
    )
    return s.select(
        F.col("n1").cast("long").alias("n_a"),
        F.col("n2").cast("long").alias("n_b"),
        u1.cast("double").alias("u_stat"),
        F.round((u1 - n1d * n2d / 2) / F.sqrt(var), 6)
        .cast("double")
        .alias("z_score"),
    )


def chi2_independence(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Chi-squared independence statistic for the ``x_col`` × ``y_col``
    contingency table. Returns one row: ``chi2, dof, n_rows``.

    Cells and margins are exact integers; per-cell terms are rounded
    to 6dp then DECIMAL-accumulated so the float sum is
    partition-order-free (the engine's standard float-sum idiom).
    """
    # cache pays at sf0.1: q_chi2_returnflag_linestatus 0.58 s, 0.71 s without
    cells = persist_tracked(
        df.groupBy(F.col(x_col).alias("x"), F.col(y_col).alias("y")).agg(
            F.count(F.lit(1)).alias("n_xy")
        )
    )
    rx = cells.groupBy("x").agg(F.sum("n_xy").alias("n_x"))
    ry = cells.groupBy("y").agg(F.sum("n_xy").alias("n_y"))
    t = cells.agg(F.sum("n_xy").alias("n"))
    e = (
        cells.join(F.broadcast(rx), "x")
        .join(F.broadcast(ry), "y")
        .crossJoin(F.broadcast(t))
        .select(
            "x",
            "y",
            "n_xy",
            "n",
            (
                F.col("n_x").cast("double")
                * F.col("n_y").cast("double")
                / F.col("n").cast("double")
            ).alias("expected"),
        )
    )
    obs = F.col("n_xy").cast("double")
    term = F.round(
        (obs - F.col("expected")) * (obs - F.col("expected")) / F.col("expected"),
        6,
    ).cast("decimal(25,6)")
    return e.agg(
        F.sum(term).cast("double").alias("chi2"),
        (
            (F.count_distinct(F.col("x")) - 1)
            * (F.count_distinct(F.col("y")) - 1)
        )
        .cast("long")
        .alias("dof"),
        F.min("n").cast("long").alias("n_rows"),
    )


def welch_ttest(
    df: DataFrame, value_col: str, flag_col: str, scale: int = 100
) -> DataFrame:
    """Welch's unequal-variance t-test between the rows where
    ``flag_col`` = 1 and those where it is 0.

    ``value_col`` × ``scale`` must be integral (e.g. scale=100 for
    cent-precision money) so the sufficient statistics
    (n, Σv, Σv²) accumulate as exact DECIMALs — partition-order-free
    and bit-identical to the oracle's HUGEINT sums. Doubles appear
    only in the final 1-row assembly of means, t, and the
    Welch–Satterthwaite dof. One groupBy + one 1-row reduce: the
    cheapest possible shape at any corpus size.

    Returns one row: ``n_a, n_b, mean_a, mean_b, t_stat, dof``.
    """
    v = F.round(F.col(value_col) * scale, 0).cast("decimal(19,0)")
    vq = v.cast("decimal(38,0)") * v.cast("decimal(38,0)")
    hit = F.col(flag_col) == 1

    def _side(tag: str, cond: Column) -> list[Column]:
        return [
            F.sum(F.when(cond, 1).otherwise(0)).alias(f"n{tag}"),
            F.sum(F.when(cond, v)).alias(f"s{tag}"),
            F.sum(F.when(cond, vq)).alias(f"q{tag}"),
        ]

    one = df.agg(*_side("1", hit), *_side("2", ~hit))
    sc = float(scale)
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    q1, q2 = F.col("q1").cast("double"), F.col("q2").cast("double")
    m1, m2 = s1 / n1 / sc, s2 / n2 / sc
    var1 = (q1 - s1 * s1 / n1) / (n1 - 1) / (sc * sc)
    var2 = (q2 - s2 * s2 / n2) / (n2 - 1) / (sc * sc)
    se1, se2 = var1 / n1, var2 / n2
    t = (m1 - m2) / F.sqrt(se1 + se2)
    dof = (
        (se1 + se2) * (se1 + se2)
        / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1))
    )
    return one.select(
        F.col("n1").cast("long").alias("n_a"),
        F.col("n2").cast("long").alias("n_b"),
        F.round(m1, 6).cast("double").alias("mean_a"),
        F.round(m2, 6).cast("double").alias("mean_b"),
        F.round(t, 6).cast("double").alias("t_stat"),
        F.round(dof, 6).cast("double").alias("dof"),
    )


def anova_f(
    df: DataFrame, value_col: str, group_col: str, scale: int = 100
) -> DataFrame:
    """One-way ANOVA F statistic of ``value_col`` across the groups of
    ``group_col`` (k groups, unequal sizes allowed).

    Same exactness contract as :func:`welch_ttest`: per-group
    (n, Σv, Σv²) as exact DECIMALs from one groupBy; the per-group
    between-groups term S_g²/n_g is rounded to 6dp and re-accumulated
    as DECIMAL(38,6) (the engine's standard float-sum idiom) so the
    cross-group sum is partition-order-free. The F ratio is scale-free
    (the scale² factor cancels), so results are comparable across
    value units.

    Returns one row: ``k, n_total, f_stat``.
    """
    v = F.round(F.col(value_col) * scale, 0).cast("decimal(19,0)")
    g = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s"),
        F.sum(v.cast("decimal(38,0)") * v.cast("decimal(38,0)")).alias("q"),
    )
    bterm = F.round(
        F.col("s").cast("double") * F.col("s").cast("double")
        / F.col("n").cast("double"),
        6,
    ).cast("decimal(38,6)")
    s = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_tot"),
        F.sum("s").alias("s_tot"),
        F.sum("q").alias("q_tot"),
        F.sum(bterm).alias("b_sum"),
    )
    kd = F.col("k").cast("double")
    nd = F.col("n_tot").cast("double")
    grand = (
        F.col("s_tot").cast("double") * F.col("s_tot").cast("double") / nd
    )
    ssb = F.col("b_sum").cast("double") - grand
    ssw = F.col("q_tot").cast("double") - F.col("b_sum").cast("double")
    f_stat = (ssb / (kd - 1)) / (ssw / (nd - kd))
    return s.select(
        F.col("k").cast("long").alias("k"),
        F.col("n_tot").cast("long").alias("n_total"),
        F.round(f_stat, 6).cast("double").alias("f_stat"),
    )


def kendall_tau_b(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Exact tie-corrected Kendall rank correlation (tau-b) between
    two LOW-CARDINALITY columns.

    The O(n²) pair count collapses onto the distinct-value contingency
    table: concordant/discordant pair totals are Σ n₁·n₂ over ordered
    CELL pairs, so the quadratic term is |X|·|Y| choose 2 — bounded by
    the value-domain product, not the row count (550 cells for
    quantity × discount at any corpus size). The cell self-join is an
    intentional bounded BNL (both sides are the tiny cell table); all
    pair sums accumulate as DECIMAL(38,0) (n² at 10¹⁰ rows overflows
    BIGINT), doubles only in the final tau assembly.

    Returns one row: ``n_rows, concordant, discordant, tau_b``.
    """
    cells = df.groupBy(F.col(x_col).alias("x"), F.col(y_col).alias("y")).agg(
        F.count(F.lit(1)).alias("n")
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    tx = cells.groupBy("x").agg(F.sum("n").alias("t"))
    ty = cells.groupBy("y").agg(F.sum("n").alias("t"))
    tie = lambda m: m.agg(  # noqa: E731
        F.sum(d38("t") * (d38("t") - 1)).alias("tt")
    )
    tot = cells.agg(F.sum("n").alias("n_rows"))
    c1 = cells.select(
        F.col("x").alias("x1"), F.col("y").alias("y1"), F.col("n").alias("n1")
    )
    c2 = cells.select(
        F.col("x").alias("x2"), F.col("y").alias("y2"), F.col("n").alias("n2")
    )
    prod = d38("n1") * d38("n2")
    cd = c1.join(c2, F.col("x2") > F.col("x1")).agg(
        F.sum(F.when(F.col("y2") > F.col("y1"), prod)).alias("conc"),
        F.sum(F.when(F.col("y2") < F.col("y1"), prod)).alias("disc"),
    )
    s = (
        tot.crossJoin(F.broadcast(cd))
        .crossJoin(F.broadcast(tie(tx).withColumnRenamed("tt", "tt_x")))
        .crossJoin(F.broadcast(tie(ty).withColumnRenamed("tt", "tt_y")))
    )
    nd = F.col("n_rows").cast("double")
    n0 = nd * (nd - 1)
    cdif = F.col("conc").cast("double") - F.col("disc").cast("double")
    denom = F.sqrt(
        ((n0 - F.col("tt_x").cast("double")) / 2)
        * ((n0 - F.col("tt_y").cast("double")) / 2)
    )
    return s.select(
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("conc").cast("double").alias("concordant"),
        F.col("disc").cast("double").alias("discordant"),
        F.round(cdif / denom, 6).cast("double").alias("tau_b"),
    )


def roc_auc(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Exact ROC-AUC of ``score_col`` against binary ``label_col``
    (1.0 = positive) via the rank-sum identity
    AUC = (R₁ − n₁(n₁+1)/2) / n₁n₂ with tie-averaged ranks.

    Returns one row: ``n_pos, n_neg, auc``. Runs on the distinct-score
    aggregate (no per-row rank join).
    """
    d = df.groupBy(F.col(score_col).alias("z")).agg(
        F.sum(F.when(F.col(label_col) == 1.0, 1).otherwise(0)).alias("c1"),
        F.count(F.lit(1)).alias("cnt"),
    )
    c = ordered_prefix_sums(d, "z", ["cnt"])
    s = c.agg(
        F.sum("c1").alias("n1"),
        (F.sum("cnt") - F.sum("c1")).alias("n2"),
        F.sum(
            _dec(F.col("c1")) * _dec(2 * F.col("cum_cnt") - F.col("cnt") + 1)
        ).alias("r2sum"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    return s.select(
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n2").cast("long").alias("n_neg"),
        F.round(
            (F.col("r2sum").cast("double") - n1d * (n1d + 1))
            / (2 * n1d * n2d),
            6,
        )
        .cast("double")
        .alias("auc"),
    )
