"""Distributed exact percentiles (SQL ``percentile_cont``, no object-agg).

Spark's built-in ``percentile`` is an ObjectHashAggregate whose buffer
holds EVERY (value → count) of a group on one executor — at 100 TB a
single hot group OOMs, and even locally the per-group merge is a
single-threaded sort. The operators here compute the same continuous
percentile (``pos = p·(n−1)``, linear interpolation between the values
at ranks ⌊pos⌋ and ⌊pos⌋+1, identical to Spark's and DuckDB's) out of
distributed primitives only, by one of three algorithms:

1. **Rank window over a (group, value, count) histogram** —
   ``exact_percentiles``, for discrete / binned / low-cardinality
   values at any group count: ``groupBy(group, value).count()``
   collapses duplicates (map-side combine), a value-ordered window
   gives each distinct value its covering rank range, and a broadcast
   range join picks the two bracketing values per (group, percentile).
   The window sorts each group's DISTINCT values in one task, so its
   limit is distinct-value cardinality per group, not row count.
2. **Grouped histogram descent** — ``exact_percentile_iterative_grouped``
   (``exact_percentile_iterative`` is its no-group case), for
   near-unique values where the histogram collapses nothing: every
   group's bracketing ranks descend together through equal-width
   histograms, one scan aggregate per round, O(log_bins n) rounds,
   driver state one interval per (group, rank), no sort of a whole
   group anywhere.
3. **Range-offset rank lookup** — ``exact_percentiles_continuous``, for
   ONE global near-unique column: the range-partitioned scan of
   ``indexing.range_partition_aggregate`` yields per-partition counts,
   so each global rank maps to (partition, offset) and only the
   bracketing rows are collected: two driver collects.

``exact_percentiles_bounded`` is the driver-side finish over a collected
histogram, for several bounded-distinct columns with no group: one
job, interpolated on the driver.

Every entry point checks its percentiles with ``_check_percentiles``
before any job runs, and the Python-side rank bracket is ``_bracket``;
``exact_percentiles`` writes the same bracket as Column expressions
because it runs inside the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .indexing import range_partition_aggregate


def _check_percentiles(percentiles: dict[str, float]) -> None:
    """Reject an empty request and any p outside [0, 1] (NaN included)."""
    if not percentiles:
        raise ValueError("need at least one percentile")
    for name, p in percentiles.items():
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"percentile {name}={p} must be in [0, 1]")


def _bracket(p: float, n: int) -> tuple[int, int, float]:
    """(r_lo, r_hi, frac) for percentile p of n sorted values: the
    0-indexed ranks around pos = p·(n−1) and the interpolation weight,
    so the percentile is v[r_lo] + frac·(v[r_hi] − v[r_lo])."""
    pos = float(p) * (n - 1)
    r_lo = int(pos)
    return r_lo, min(r_lo + 1, n - 1), pos - r_lo


def exact_percentile_iterative(
    df: DataFrame,
    value_col: str,
    p: float,
    bins: int = 1024,
    direct_threshold: int = 100_000,
    max_rounds: int = 8,
) -> float:
    """Exact continuous percentile of one column: the grouped histogram
    descent with no group columns. Raises ValueError when the column
    holds no non-null value."""
    rows = exact_percentile_iterative_grouped(
        df, [], value_col, p, bins, direct_threshold, max_rounds
    ).collect()
    if not rows:
        raise ValueError("no non-null values")
    return rows[0][0]


def exact_percentile_iterative_grouped(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: float,
    bins: int = 512,
    direct_threshold: int = 100_000,
    max_rounds: int = 8,
    out_col: str = "q",
) -> DataFrame:
    """Grouped continuous percentile by simultaneous histogram descent.

    The scale path for the case ``exact_percentiles`` documents as its
    limit: a continuous column whose per-group distinct count ≈ row
    count. Classic distributed selection — ALL groups descend together:
    each round is ONE distributed aggregate (`groupBy(task, bucket)`)
    that histograms every outstanding rank task's candidate interval
    into `bins` equal-width buckets, and each task descends into the
    bucket holding its rank. Driver state is one (lo, hi, skipped)
    triple per task (≤ 2 × #groups — the same boundedness any grouped
    report already assumes); tasks narrow by ~bins× per round, so 100 TB
    of doubles needs ~4 rounds. A task whose interval collapses to one
    value takes that value directly; the others finish in one windowed
    job over ≤ direct_threshold rows per task — no value collect, no
    per-group object buffer, no one-task sort over a whole group.

    ``group_cols=[]`` is one global group. Returns one row per group:
    group_cols + `out_col` (percentile_cont interpolation,
    differentially tested against the built-in).
    """
    _check_percentiles({"p": p})
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull()).select(
        *[F.col(c) for c in group_cols], v.alias("__v")
    )
    # unit-separator join + null marker: distinct group tuples must map
    # to distinct keys ("a","b" vs "ab",""; concat_ws silently SKIPS
    # nulls, so (x, null) and (null, x) would otherwise collide). No
    # group columns give one constant key.
    gkey = F.concat_ws(
        "\x1f",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
            for c in group_cols
        ],
    )
    base = base.withColumn("__g", gkey)

    head = base.groupBy("__g").agg(
        F.count("__v").alias("n"),
        F.min("__v").alias("lo"),
        F.max("__v").alias("hi"),
        *[F.first(c).alias(f"__gc_{c}") for c in group_cols],
    )
    meta: dict[str, dict] = {}
    # task id = group key + which bracketing rank ("L"/"H")
    state: dict[tuple[str, str], dict] = {}
    for r in head.collect():  # one row per group — bounded driver data
        r_lo, r_hi, frac = _bracket(p, r["n"])
        meta[r["__g"]] = {
            "frac": frac,
            "cols": tuple(r[f"__gc_{c}"] for c in group_cols),
        }
        state[(r["__g"], "L")] = {
            "rank": r_lo, "lo": r["lo"], "hi": r["hi"], "skipped": 0
        }
        if r_hi != r_lo and frac != 0.0:
            state[(r["__g"], "H")] = {
                "rank": r_hi, "lo": r["lo"], "hi": r["hi"], "skipped": 0
            }

    spark = df.sparkSession

    def candidates(keys) -> DataFrame:
        """The rows inside each task's [lo, hi], one copy per task,
        beside the task's rank within its interval (`__want`)."""
        bounds = spark.createDataFrame(
            [
                (*key, st["lo"], st["hi"], st["rank"] - st["skipped"])
                for key, st in state.items()
                if key in keys
            ],
            "__g string, __which string, __lo double, __hi double, "
            "__want long",
        )
        return base.join(F.broadcast(bounds), "__g").filter(
            (F.col("__v") >= F.col("__lo")) & (F.col("__v") <= F.col("__hi"))
        )

    # A task whose interval has collapsed to one value holds only rows
    # equal to lo, so lo is its value: it needs no further round and
    # stays out of the exact finish, whose per-task window would sort
    # every one of those rows in one task (the duplicate-dominated
    # case, e.g. p99 of a column that is one value almost everywhere).
    picked: dict[tuple[str, str], float] = {}

    def still_open(keys) -> set:
        live = set()
        for key in keys:
            st = state[key]
            if st["lo"] == st["hi"]:
                picked[key] = st["lo"]
            else:
                live.add(key)
        return live

    open_keys = still_open(state)
    for _ in range(max_rounds):
        if not open_keys:
            break
        width = F.col("__hi") - F.col("__lo")
        hist_rows = (
            candidates(open_keys)
            .withColumn(
                "__b",
                F.least(
                    F.lit(bins - 1),
                    F.floor(
                        (F.col("__v") - F.col("__lo")) / (width / bins)
                    ).cast("int"),
                ),
            )
            .groupBy("__g", "__which", "__b")
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.min("__v").alias("lo"),
                F.max("__v").alias("hi"),
            )
            .collect()  # ≤ tasks × bins rows — bounded driver data
        )
        hists: dict[tuple[str, str], dict[int, tuple]] = {}
        for r in hist_rows:
            hists.setdefault((r["__g"], r["__which"]), {})[r["__b"]] = (
                r["c"], r["lo"], r["hi"]
            )
        next_open = set()
        for key in open_keys:
            st = state[key]
            hist = hists.get(key, {})
            if sum(c for c, _, _ in hist.values()) <= direct_threshold:
                continue  # small enough: the exact finish selects it
            # The bucket index is monotone in the value, so every value
            # of an earlier bucket lies below the target bucket's min
            # and every later one above its max: the new interval
            # [min, max] holds exactly the target bucket's rows, and
            # skipped stays #{v < lo}. A bucket of one distinct value
            # collapses the interval.
            remaining = st["rank"] - st["skipped"]
            acc = 0
            for bkt in sorted(hist):
                c, b_lo, b_hi = hist[bkt]
                if acc + c > remaining:
                    break
                acc += c
            st["skipped"] += acc
            st["lo"], st["hi"] = b_lo, b_hi
            next_open.add(key)
        open_keys = still_open(next_open)

    # exact finish: ONE windowed job over the remaining tasks' small
    # intervals
    finish = state.keys() - picked.keys()
    if finish:
        w = Window.partitionBy("__g", "__which").orderBy("__v")
        picked.update(
            {
                (r["__g"], r["__which"]): r["__v"]
                for r in candidates(finish)
                .withColumn("__rn", F.row_number().over(w) - 1)
                .filter(F.col("__rn") == F.col("__want"))
                .select("__g", "__which", "__v")
                .collect()  # one row per task — bounded driver data
            }
        )
    out_rows = []
    for g, m in meta.items():
        v_lo = picked[(g, "L")]
        v_hi = picked.get((g, "H"), v_lo)
        out_rows.append(m["cols"] + (float(v_lo + m["frac"] * (v_hi - v_lo)),))
    schema = df.select(
        *group_cols, F.lit(0.0).cast("double").alias(out_col)
    ).schema
    return spark.createDataFrame(out_rows, schema)


def exact_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    percentiles: dict[str, float],
    count_col: str | None = None,
) -> DataFrame:
    """One row per group: a column per requested percentile.

    percentiles maps output column name → p in [0, 1], e.g.
    ``{"p50": 0.5, "p99": 0.99}``. Continuous interpolation:
    ``pos = p·(n−1); v = v[⌊pos⌋] + (pos−⌊pos⌋)·(v[⌊pos⌋+1] − v[⌊pos⌋])``
    over the value-sorted rows of the group (SQL percentile_cont).
    NULL values are excluded (same as the built-in aggregate).

    ``count_col``: WEIGHTED mode — ``df`` is already a value histogram
    ((group, value, count) rows) and ``count_col`` holds the
    multiplicity of each value. Result is identical to running the
    unweighted form on the exploded rows. Pre-aggregating to a
    histogram is the scale move for discrete/low-cardinality value
    columns: the expensive input is scanned once into a tiny frame
    (map-side combine), and every internal branch of this operator
    then re-reads the histogram, not the raw table.
    """
    _check_percentiles(percentiles)
    v = F.col(value_col)

    # 1. distinct-value counts (map-side combine collapses duplicates);
    # in weighted mode sum the provided multiplicities instead.
    vals = (
        df.filter(v.isNotNull())
        .groupBy(*group_cols, value_col)
        .agg(
            (
                F.sum(count_col) if count_col else F.count(F.lit(1))
            ).alias("__cnt")
        )
    )
    # Lineage cut: every internal branch below (ranked, totals, one
    # targets arm per percentile, both rank lookups) re-derives this
    # frame — without a cut the physical plan re-scans the RAW input
    # once per branch (q14 showed 9 FileScans of lineitem). The
    # collapsed histogram is small (distinct (group,value) pairs), so
    # materialize it once and let all branches read the checkpoint.
    vals = vals.localCheckpoint(eager=False)
    # 2. per-value covering rank range [lo, hi] (0-indexed)
    w = Window.partitionBy(*group_cols).orderBy(value_col)
    ranked = vals.withColumn("__hi", F.sum("__cnt").over(w) - 1).withColumn(
        "__lo", F.col("__hi") - F.col("__cnt") + 1
    )

    # 3. tiny target frame: one row per (group, percentile). Group
    # columns are renamed (__t_*) — targets shares lineage with
    # `ranked` (both derive from `vals`), and distinct names keep the
    # join references unambiguous.
    totals = vals.groupBy(*group_cols).agg(F.sum("__cnt").alias("__n"))
    targets = None
    for name, p in percentiles.items():
        pos = F.lit(float(p)) * (F.col("__n") - 1).cast("double")
        t = totals.select(
            *[F.col(c).alias(f"__t_{c}") for c in group_cols],
            F.lit(name).alias("__pname"),
            F.floor(pos).cast("long").alias("__r_lo"),
            F.least(F.floor(pos) + 1, F.col("__n") - 1)
            .cast("long")
            .alias("__r_hi"),
            (pos - F.floor(pos)).alias("__frac"),
        )
        targets = t if targets is None else targets.unionByName(t)

    # 4. covering-value lookup for both bracketing ranks. The target
    # side is group-cardinality × |percentiles| — broadcast it; the
    # range predicate makes this a broadcast theta join, never a
    # shuffle of the big side.
    def lookup(rank_col: str, out: str) -> DataFrame:
        # eqNullSafe: a NULL group-key value is a real group (the
        # built-in grouped aggregate and the DuckDB oracle both keep
        # it) — plain == would silently drop it here
        cond = F.lit(True)
        for c in group_cols:
            cond = cond & F.col(c).eqNullSafe(F.col(f"__t_{c}"))
        cond = (
            cond
            & (F.col(rank_col) >= F.col("__lo"))
            & (F.col(rank_col) <= F.col("__hi"))
        )
        return (
            ranked.join(F.broadcast(targets), cond)
            .select(
                *[
                    F.col(f"__t_{c}").alias(c) for c in group_cols
                ],
                "__pname",
                "__frac",
                F.col(value_col).cast("double").alias(out),
            )
        )

    lo = lookup("__r_lo", "__v_lo")
    hi = lookup("__r_hi", "__v_hi").select(
        *[F.col(c).alias(f"__h_{c}") for c in group_cols],
        F.col("__pname").alias("__h_pname"),
        F.col("__v_hi"),
    )
    # null-safe lo/hi pairing for the same reason as lookup()
    pair_cond = F.col("__pname") == F.col("__h_pname")
    for c in group_cols:
        pair_cond = pair_cond & F.col(c).eqNullSafe(F.col(f"__h_{c}"))
    interp = (
        lo.join(hi, pair_cond)
        .drop("__h_pname", *[f"__h_{c}" for c in group_cols])
        .withColumn(
            "__val",
            F.col("__v_lo")
            + F.col("__frac") * (F.col("__v_hi") - F.col("__v_lo")),
        )
    )

    # 5. pivot the percentile names back into columns (bounded set)
    out = (
        interp.groupBy(*group_cols)
        .pivot("__pname", list(percentiles.keys()))
        .agg(F.first("__val"))
    )
    return out


def exact_percentiles_continuous(
    df: DataFrame,
    value_col: str,
    percentiles: dict[str, float],
    tiebreak_cols: list[str],
) -> DataFrame:
    """Global percentile_cont over a CONTINUOUS (near-unique) value
    column — one row, a column per requested percentile.

    exact_percentiles' histogram pre-aggregation is the scale move for
    discrete values; on a near-unique double column the histogram
    collapses nothing, and with a constant group its rank window
    becomes a single-partition sort of the whole column — the exact
    cliff the operator exists to avoid. This variant is the
    continuous-path twin: a distributed range-partitioned sort
    (indexing.range_partition_aggregate, which carries the
    checkpoint-before-offsets-collect lineage rule), then a filter to
    the <= 2·|percentiles| bracketing ranks and a bounded collect —
    interpolation v_lo + frac·(v_hi − v_lo) happens on those few rows,
    never on the column.

    tiebreak_cols must extend value_col to a total order (any unique
    key): tie ORDER among equal values is irrelevant to the value at a
    rank, but the range-partitioned numbering requires it for
    determinism. NULL values are excluded (percentile_cont semantics).
    """
    _check_percentiles(percentiles)
    if not tiebreak_cols:
        raise ValueError("need a tiebreak column for a total order")
    order = [value_col, *tiebreak_cols]
    vals = df.filter(F.col(value_col).isNotNull()).select(*order)
    # TWO collects: (1) the shared range scan's per-partition counts,
    # which also yield n; (2) join the broadcast offsets back and
    # filter to the bracketing global ranks. Calling global_row_number
    # instead would number every row before the filter — on a
    # driver-latency budget, job COUNT is the cost, not rows.
    with_pid, counts = range_partition_aggregate(
        vals, order, F.count(F.lit(1))
    )
    n = sum(counts.values())
    if n == 0:
        raise ValueError("no non-null values to take percentiles of")
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    want = {name: _bracket(p, n) for name, p in percentiles.items()}
    # ranks are 1-based
    ranks = {r + 1 for r_lo, r_hi, _ in want.values() for r in (r_lo, r_hi)}
    offset_df = F.broadcast(
        with_pid.sparkSession.createDataFrame(
            [(pid, off) for pid, off in offsets.items()],
            "__pid int, __offset long",
        )
    )
    w = Window.partitionBy("__pid").orderBy(*order)
    by_rank = {
        r["__rn"]: r[value_col]
        for r in with_pid.join(offset_df, "__pid")
        .withColumn(
            "__rn", (F.col("__offset") + F.row_number().over(w)).cast("long")
        )
        .filter(F.col("__rn").isin(sorted(ranks)))
        .select("__rn", value_col)
        .collect()  # bounded: <= 2 rows per percentile
    }
    row = tuple(
        float(
            by_rank[r_lo + 1]
            + frac * (by_rank[r_hi + 1] - by_rank[r_lo + 1])
        )
        for (r_lo, r_hi, frac) in want.values()
    )
    return df.sparkSession.createDataFrame(
        [row], ", ".join(f"{name} double" for name in want)
    )


def exact_percentiles_bounded(
    df: DataFrame,
    value_cols: list[str],
    percentiles: dict[str, float],
) -> dict[str, dict[str, float]]:
    """percentile_cont for several BOUNDED-DISTINCT numeric columns in
    ONE job: fuse the columns into a single (metric, value) histogram
    (explode + map-side-combined groupBy), collect it — bounded by the
    columns' distinct-value counts (a day range, an order-count cap),
    NOT the row count — and interpolate in the driver.

    Returns {column: {percentile_name: value}}. This is the right
    shape when the grouped operator's machinery is overkill: a
    constant group means its window/join tree buys nothing, and each
    extra column would otherwise cost a full operator invocation
    (multiple jobs) instead of one shared scan. NULLs excluded
    (percentile_cont semantics). For near-unique columns use
    exact_percentiles_continuous instead — this one's collect would
    not be bounded there.
    """
    _check_percentiles(percentiles)
    if not value_cols:
        raise ValueError("need at least one value column")
    fused = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("m"),
                        F.col(c).cast("double").alias("v"),
                    )
                    for c in value_cols
                ]
            )
        ).alias("s")
    ).select("s.m", "s.v")
    hist = (
        fused.filter(F.col("v").isNotNull())
        .groupBy("m", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    by_col: dict[str, list[tuple[float, int]]] = {c: [] for c in value_cols}
    for r in hist:
        by_col[r["m"]].append((r["v"], r["c"]))
    out: dict[str, dict[str, float]] = {}
    for c in value_cols:
        pairs = sorted(by_col[c])
        if not pairs:
            raise ValueError(f"no non-null values in column {c!r}")
        n = sum(cnt for _, cnt in pairs)
        # value at 0-based rank k via the cumulative histogram
        cum, bounds = 0, []
        for v, cnt in pairs:
            bounds.append((cum, cum + cnt - 1, v))
            cum += cnt

        def at(k: int) -> float:
            import bisect

            i = bisect.bisect_right([b[0] for b in bounds], k) - 1
            return bounds[i][2]

        cuts = {}
        for name, p in percentiles.items():
            lo, hi, frac = _bracket(p, n)
            v_lo, v_hi = at(lo), at(hi)
            cuts[name] = v_lo + frac * (v_hi - v_lo)
        out[c] = cuts
    return out
