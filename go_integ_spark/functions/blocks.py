"""Rows²-aware exchange sizing for blocked pair scorers.

Every cogrouped / grouped block scorer in this repo does QUADRATIC
work per block (a |probe block| x |member block| fold-cosine or
int-gate matmul) while a block's shuffled BYTES are linear in its
rows. AQE's partition coalescing balances exchange bytes, so it
happily packs several near-cap blocks into one task: that task's
cost is the SUM of their quadratics while its byte size looks
average. This is exactly the r10 1000x kNN-graph finding — 144x
data-task skew on the scoring exchange at 1000x (where blocks run at
the KNN_CELL_CAP bound) vs 4.2x at 100x (where blocks are ~10x
smaller and byte-balance still tracks cost).

The fix is to bypass byte-coalescing on exactly these exchanges and
nowhere else: ``repartition(n, *keys)`` plants a REPARTITION_BY_NUM
shuffle that (a) AQE never coalesces, and (b) already satisfies the
downstream ``groupBy(*keys)``/``cogroup`` ClusteredDistribution, so
EnsureRequirements adds no second exchange (plan-pinned in
tests/test_blocks.py). Sizing ``n`` to ~the block count makes
expected blocks-per-task O(1) with balls-in-bins variance, so task
skew is bounded by the largest SINGLE block — and the largest block
is what each operator's cap (KNN_CELL_CAP, SEMDEDUP_MAX_CLUSTER,
LSH_MAX_BUCKET, ...) already bounds. ``grid_block_cogroup`` packs
blocks into bins and ``repartitionById`` puts bin i in partition i.

Results are bit-identical by construction: block membership is
defined by the KEYS, not by which task a block lands in, and every
kernel here is fold-exact per block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Upper bound on block-scoring partitions: a runaway block count
# (degenerate splitting) must not turn into millions of ~ms tasks —
# scheduling overhead at local[32] is ~1-2 ms/task, so 32k tasks cap
# the overhead at ~1 min while still giving the 1000x probes (~14k
# blocks) one task per block.
MAX_BLOCK_PARTITIONS = 32768


def block_partition_count(spark, n_blocks: int) -> int:
    """Partition count for a block-scoring exchange: one partition
    per block, floored at the session shuffle parallelism (tiny gate
    corpora keep their normal width) and capped at
    ``MAX_BLOCK_PARTITIONS``."""
    base = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return int(max(base, min(int(n_blocks), MAX_BLOCK_PARTITIONS)))


def repartition_for_blocks(
    df: DataFrame, keys: list[str], n_blocks: int
) -> DataFrame:
    """Hash-repartition ``df`` on the block keys with an EXPLICIT
    partition count (REPARTITION_BY_NUM) sized to ``n_blocks`` so
    AQE's byte-based coalescing cannot merge rows²-cost blocks into
    one task. The downstream groupBy/cogroup on the same keys reuses
    this exchange."""
    n = block_partition_count(df.sparkSession, n_blocks)
    return df.repartition(n, *keys)


def pack_bins(costs: list[float], capacity: float) -> tuple[list[int], int]:
    """Worst-fit-decreasing bin packing: assign each item to the
    least-loaded open bin that still fits, else open a new one.
    Returns (bin id per item, bin count). Used to pack scoring
    blocks into ~equal-COST partitions: one-partition-per-block is
    right when blocks are near-uniform, but a clustered corpus makes
    them bimodal (near-cap hot blocks vs tiny cold cells), and then
    max/median task time is the block-size ratio. Packing cold
    blocks together around the hot ones makes the MEDIAN task a full
    bin while the max stays one bin, so stage balance is bounded by
    small constants at any scale. O(n log n); item costs above
    capacity are clamped (such an item fills its own bin)."""
    import heapq

    order = sorted(range(len(costs)), key=lambda i: -costs[i])
    heap: list[tuple[float, int]] = []
    assign = [0] * len(costs)
    nbins = 0
    for i in order:
        c = min(costs[i], capacity)
        if heap and heap[0][0] + c <= capacity:
            load, b = heapq.heappop(heap)
            assign[i] = b
            heapq.heappush(heap, (load + c, b))
        else:
            assign[i] = nbins
            heapq.heappush(heap, (c, nbins))
            nbins += 1
    return assign, nbins


# ~fixed per-block overhead (Arrow batch + pandas assembly) in
# pair-units: bounds how many tiny cold blocks one bin may hold, and
# floors the bin capacity.
BLOCK_OVERHEAD = 50_000.0
# Row-LINEAR per-block cost (shuffle of the replicated ~520 B/row
# payload + Arrow transfer + pandas assembly), in pair-units per
# row. Without it the packer prices a pair-light/row-heavy block (a
# hot cell's near-cap member rows replicated across many probe
# splits) at ~zero and stacks dozens into one bin — the r12 1000x
# bitext probe read a 165.5 s max task over a 6.7 s median on the
# backward scoring stage from exactly this shape.
#
# UNITS (re-derived r13): a "pair-unit" is one SCORED pair — fold
# kernel + per-probe ranking/extraction — measured ~430 ns in-task,
# NOT the pure tiled fold's ~100 ns. r12 divided by the pure-fold
# rate and got ~3e3; replaying its own backward-stage measurements
# (20k rows + 2.7e6 pairs per 6.7 s task) against the
# inclusive pair time gives row_time = (6.7 - 2.7e6*430ns)/20k
# ~ 277 us => ~644 pair-units/row. The 4.7x overpricing made
# row-dominated bins real-cheap and pair-dominated bins real-
# expensive behind uniform planned costs — the healthy-host 1000x
# multilang probe read 31x task skew (med ~1 s row bins, max ~31 s
# pair bins) from exactly this, and the r12 'forward 13.4x' was the
# same defect at smaller magnitude.
ROW_COST = 650.0

# ROW_COST and BLOCK_PAIR_CAP are plain constants: plan_grid_bins is a
# pure function of its cell sizes, so one input gives one plan in any
# process on any host. (r13-r14 scaled ROW_COST by a host micro-timing
# at first use; fresh processes on one idle host priced rows at
# 594-1072 and packed different bins. The pair sets never moved —
# they are split-invariant, see grid_block_cogroup's RESULT CONTRACT.)

# Per-block kernel-pair ceiling (r13). Kernel work measured ~430 ns
# per pair on the scoring hot path (fold + per-probe ranking, healthy
# host) — 8M pairs bounds a single block's kernel at ~3.5 s, the same
# order as a typical row-dominated task, so a mis-priced pair/row
# ratio can no longer stack 200x of real work behind a "uniform"
# planned cost. Raising it trades straggler risk for less side
# replication.
BLOCK_PAIR_CAP = 8_000_000.0


def plan_grid_bins(
    cells: list[tuple[tuple, int, int]],
    cap: int,
    base_partitions: int,
    overhead: float = BLOCK_OVERHEAD,
) -> tuple[list[tuple], list[tuple], int]:
    """The ONE grid scheduler (r11 review: the kNN path and the
    generic helper had copy-pasted capacity/packing policies that
    could silently diverge). ``cells`` is [(key_tuple, n_members,
    n_probes)]. Each cell splits into ceil(n/cap) sub-blocks per
    dimension; per-block cost ~ (n_m/nc)*(n_p/np) quadratic kernel
    work + ROW_COST*(rows) linear Arrow/assembly work + overhead
    (the row term keeps pair-light/row-heavy blocks from stacking —
    see ROW_COST); worst-fit-decreasing packs blocks into bins whose
    capacity sits between 4-bins-per-core (parallelism floor — a
    pure cap^2 capacity starved 25 of 32 cores at the 100x probe)
    and the cap^2 single-block bound. Returns (split_rows [(key...,
    n_cs, n_ps)], bin_rows [(key..., csplit, psplit, bin_id)],
    n_bins)."""
    split_rows: list[tuple] = []
    blocks: list[tuple] = []
    costs: list[float] = []
    for kv, n_m, n_p in cells:
        if n_m == 0 or n_p == 0:
            continue  # an empty side scores nothing; skip the cell
        nc = max(1, -(-n_m // cap))
        np_ = max(1, -(-n_p // cap))
        # Per-block PAIR bound (r13, found on a healthy-host 1000x
        # multilang probe): capping each DIMENSION at `cap` still
        # admits a cap x cap = 67M-pair single block, and the
        # row-vs-pair cost constants cannot price that safely — the
        # probe's planned bins were uniform to 1.3x while measured
        # kernel time spread 200x (a 5.7k x 8.1k block ran 19.7 s
        # against a row-dominated median bin's 0.09 s; observed task
        # skew 31-38x, reproduced twice, healthy host window; the r12
        # "forward-stage 13.4x host stall" was this same defect).
        # Bounding mc*pc directly makes the packing robust to ANY
        # cost-constant error: no single block can exceed ~BLOCK_PAIR_CAP
        # of kernel work. Each split increment replicates the OTHER
        # side once more (probes x nc member-splits, members x np_
        # probe-splits), so grow the split whose replication is
        # cheaper.
        #
        # Measured and REJECTED (r14, VERDICT r13 item 6): a
        # near-square argmin geometry (minimize total shipped rows
        # n_p*nc + n_m*np_ under the pair cap) was A/B'd at the
        # 1000x multilang probe — pair set byte-identical, map-side
        # shuffle only -3% (17.85 vs 18.43 GB: cap-bound hot cells
        # are a small share of corpus bytes), and wall WORSE (994 s
        # healthy vs 799 s degraded-window greedy) because splitting
        # the larger side multiplies the explode over its expensive
        # parse lineage on the critical-path map stage. Artifacts:
        # evidence/SMOKE_r14_1000x_bitext_geom_{greedy,balanced}.json. Keep
        # the corner greedy: it never replicates the bigger side
        # while the cap allows.
        while (n_m / nc) * (n_p / np_) > BLOCK_PAIR_CAP:
            if n_p <= n_m:
                nc += 1
            else:
                np_ += 1
        split_rows.append(kv + (nc, np_))
        mc, pc = n_m / nc, n_p / np_
        for cs in range(nc):
            for ps in range(np_):
                blocks.append(kv + (cs, ps))
                costs.append(mc * pc + ROW_COST * (mc + pc) + overhead)
    if not blocks:
        return [], [], 0
    # capacity's single-block bound gets the same row term, so a
    # maximal block still fits one bin exactly
    max_block = float(min(cap * cap, BLOCK_PAIR_CAP)) + ROW_COST * 2 * cap
    capacity = max(
        min(max_block, sum(costs) / max(4 * base_partitions, 64)),
        4 * overhead,
    )
    assign, n_bins = pack_bins(costs, capacity)
    bin_rows = [b + (a,) for b, a in zip(blocks, assign)]
    return split_rows, bin_rows, n_bins


def grid_block_cogroup(
    probes,
    members,
    keys: list[str],
    probe_id: str,
    member_id: str,
    score_fn,
    schema: str,
    cap: int,
    slot: str | None = None,
    cell_sizes: list[tuple[tuple, int, int]] | None = None,
):
    """2-D capped block grid + cost-binned exchange for an asymmetric
    cogrouped scorer — the ``embedding_knn_graph`` shape generalized
    (r11). ``probes``/``members`` each carry the ``keys`` columns plus
    payload; every (probe-block x member-block) pair of a cell meets
    exactly once: the member side splits by ``xxhash64(member_id)``
    into ceil(n/cap) sub-blocks and replicates across the probe
    side's splits, and vice versa. Per-block costs come from ONE
    fused map-side-combined count aggregate over the union of both
    sides' key columns (cells-sized driver collect; r11 ran two
    aggregates + a join here, ~13% of the 1000x kNN wall);
    ``plan_grid_bins`` packs blocks into ~equal-cost bins and each
    side's exchange is ``repartitionById`` on the bin id with an
    explicit partition count: bin ``i`` goes straight to partition
    ``i mod n_parts``, so while ``n_bins <= n_parts`` every bin has a
    task of its own (REPARTITION_BY_NUM, which AQE never coalesces).

    ``slot``: single-slot cache prefix for the two input frames.
    Without it, the count aggregate executes each un-persisted input
    lineage a full extra time (for kernel-derived sides that is a
    whole extra O(N*K*d) pass — the exact cost the kNN path's
    persisted assignment frame eliminates); pass a stable name
    whenever the inputs embed non-trivial compute.

    ``cell_sizes``: caller-supplied [(key_tuple, n_members,
    n_probes)] per cell, skipping the count aggregate entirely. Use
    when both sides derive from one already-persisted frame the
    caller can aggregate in a single pass (the kNN path's assignment
    frame: n_p = all probe rows per cell, n_m = rank-0 rows).
    Zero-size cells are skipped by ``plan_grid_bins`` either way.

    RESULT CONTRACT: callers must be split-invariant — the scored
    pair set is unchanged by construction, but a score_fn that emits
    per-probe top-k emits it PER BLOCK, so the caller needs a global
    top-k (window) downstream; any global survivor ranks <= k inside
    its own sub-block, so the union always feeds that window every
    global survivor. ``score_fn(probe_pdf, member_pdf)`` — the
    member side's key/split columns arrive prefixed ``m_`` (in every
    branch, including the degenerate empty-corpus fallback).
    """
    from pyspark.sql import functions as F

    spark = probes.sparkSession
    if slot is not None:
        from go_integ_spark.functions.cache import cached_persist

        probes = cached_persist(f"{slot}_probes", probes, lambda p=probes: p)
        members = cached_persist(
            f"{slot}_members", members, lambda m=members: m
        )
    # Key dtypes must agree across sides: the cogroup pairs key
    # columns positionally and the fused union below would otherwise
    # insert silent casts (ADVICE r11) — fail loud instead.
    for k in keys:
        pt = probes.schema[k].dataType
        mt = members.schema[k].dataType
        if pt != mt:
            raise TypeError(
                f"grid_block_cogroup key {k!r}: probe side is {pt}, "
                f"member side is {mt} — key dtypes must match"
            )
    m_keys = [f"m_{k}" for k in keys]
    members_renamed = members
    for k, mk in zip(keys, m_keys):
        members_renamed = members_renamed.withColumnRenamed(k, mk)
    if cell_sizes is None:
        # ONE aggregate over the union of both sides' keys: each
        # lineage is scanned once (as before) but the sizing runs as
        # a single map-side-combined job instead of two jobs + a join.
        sz = (
            probes.select(*keys)
            .withColumn("_is_m", F.lit(False))
            .unionByName(
                members.select(*keys).withColumn("_is_m", F.lit(True))
            )
            .groupBy(*keys)
            .agg(
                F.count_if(F.col("_is_m")).alias("n_m"),
                F.count_if(~F.col("_is_m")).alias("n_p"),
            )
            .collect()
        )
        cell_sizes = [
            (tuple(r[k] for k in keys), r["n_m"], r["n_p"]) for r in sz
        ]
    base = int(spark.conf.get("spark.sql.shuffle.partitions"))
    split_rows, bin_rows, n_bins = plan_grid_bins(cell_sizes, cap, base)
    if not bin_rows:
        # degenerate corpus: deliver an empty frame of the right
        # schema, through the same renamed-member contract
        return (
            probes.groupBy(*keys)
            .cogroup(members_renamed.groupBy(*m_keys))
            .applyInPandas(
                lambda p, m: score_fn(p.iloc[:0], m.iloc[:0]), schema
            )
        )
    n_parts = block_partition_count(spark, n_bins)
    # explicit schemas: the split/bin columns must be INT on both
    # sides — positionally-paired cogroup keys of different widths
    # only work by UnsafeRow storage accident (r11 review)
    key_ddl = ",".join(
        f"{k} {probes.schema[k].dataType.simpleString()}" for k in keys
    )
    m_key_ddl = ",".join(
        f"m_{k} {members.schema[k].dataType.simpleString()}" for k in keys
    )
    p_splits = spark.createDataFrame(
        split_rows, f"{key_ddl}, n_cs int, n_ps int"
    )
    m_splits = spark.createDataFrame(
        split_rows, f"{m_key_ddl}, mn_cs int, mn_ps int"
    )
    p_bins = spark.createDataFrame(
        bin_rows, f"{key_ddl}, csplit int, psplit int, bin_id int"
    )
    m_bins = spark.createDataFrame(
        bin_rows, f"{m_key_ddl}, m_csplit int, m_psplit int, m_bin int"
    )
    p = (
        probes.join(F.broadcast(p_splits), list(keys))
        .withColumn(
            "psplit", F.pmod(F.xxhash64(probe_id), F.col("n_ps")).cast("int")
        )
        # n_cs is int by schema, so the sequence elements (and the
        # exploded csplit) are already int — matching m_csplit's type
        .withColumn(
            "csplit",
            F.explode(F.sequence(F.lit(0), F.col("n_cs") - 1, F.lit(1))),
        )
        .drop("n_cs", "n_ps")
        .join(F.broadcast(p_bins), list(keys) + ["csplit", "psplit"])
        .repartitionById(n_parts, "bin_id")
    )
    m = (
        members_renamed.join(F.broadcast(m_splits), m_keys)
        .withColumn(
            "m_csplit",
            F.pmod(F.xxhash64(member_id), F.col("mn_cs")).cast("int"),
        )
        .withColumn(
            "m_psplit",
            F.explode(F.sequence(F.lit(0), F.col("mn_ps") - 1, F.lit(1))),
        )
        .drop("mn_cs", "mn_ps")
        .join(F.broadcast(m_bins), m_keys + ["m_csplit", "m_psplit"])
        .repartitionById(n_parts, "m_bin")
    )
    return (
        p.groupBy("bin_id", *keys, "csplit", "psplit")
        .cogroup(m.groupBy("m_bin", *m_keys, "m_csplit", "m_psplit"))
        .applyInPandas(score_fn, schema)
    )
