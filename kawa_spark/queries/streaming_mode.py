"""Queries that execute through the ACTUAL Structured Streaming
runtime (not batch twins): bounded drain via trigger(availableNow) to
a memory sink, result returned as a DataFrame.

Every twin is written against the same few helpers, called directly:
``_drain`` (memory sink) / ``_drain_files`` (parquet sink) for the
bounded drain, both waiting through ``_await``; ``_plant_stream`` for
planted rows riding the stream as a second file source; ``_late0``
for an oracle that pins the kernel's late-row counter to 0. Oracles
are the batch keys' shared SQL constants, imported here verbatim.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from kawa_spark.envelope import normalize
from kawa_spark.functions.exact import floordiv
from kawa_spark.io import stream_table, table
from kawa_spark.plans.materialize import materialize
from kawa_spark.queries.events import (
    ANOMALY_MAD_SQL,
    DAY_US,
    DOW_ASSOC_SQL,
    DOW_DRIFT_SQL,
    FUNNEL_SQL,
    HOUR_US,
    RATE_LIMIT,
    RATE_WINDOW_US,
    WEEK_US,
    _dow_drift_planted,
    _dow_planted,
    _mad_planted,
    dow_association,
    dow_drift_report,
    mad_scores,
)
from kawa_spark.queries.llm_dedup import (
    INC_MH_PLANTS_NEW,
    INC_MH_PLANTS_PRIOR,
    INC_PLANTS_NEW,
    INC_PLANTS_PRIOR,
    INCREMENTAL_DEDUP_SQL,
    _inc_minhash_oracle,
    _norm_digest,
    classify_incremental,
    incremental_minhash_from_bands,
    is_prior_doc,
    minhash_band_rows,
    minhash_signatures,
    prior_digest_index,
    snapshot_split,
)
from kawa_spark.queries.llm_multimodal import (
    _dhash_int,
    _dhash_plant_texts,
    _inc_image_plants,
    _inc_image_sql,
    image_dedup_from_hashes,
    image_hashes,
    incremental_image_from_hashes,
)
from kawa_spark.queries.llm_similarity import (
    EMB_INC_PLANT_N,
    _inc_embedding_oracle,
    embedding_sigs,
    incremental_embedding_from_sigs,
)
from kawa_spark.queries.logs import (
    TEMPLATE_DRIFT_SQL,
    daily_template_counts,
    drift_report,
    mask_template,
    raw_msg_col,
)
from kawa_spark.queries.security import (
    BEACON_CV2_DEN,
    BEACON_CV2_NUM,
    BEACON_MIN_GAPS,
    CHAIN3_WINDOW_US,
    CHAIN_WINDOW_US,
    DGA_SCORE_SQL,
    DGA_VOCAB,
    FIRST_SEEN_SQL,
    HOP_WINDOW_US,
    IMPOSSIBLE_TRAVEL_SQL,
    LATERAL_3HOP_SQL,
    LATERAL_MOVEMENT_SQL,
    PASSWORD_SPRAY_SQL,
    PLANTS_SQL,
    SESSION_GAP_US,
    SESSION_RARITY_SQL,
    SPRAY_MIN_USERS,
    TYPOSQUAT_MAX_DIST,
    TYPOSQUAT_SQL,
    _lm3_plant_rows,
    _lm_plant_rows,
    _planted_beacons,
    _planted_spray,
    _typo_plant_rows,
    dga_features,
    domain_col,
    first_seen_curve,
    ip_col,
    longest_prefix_match,
    nets_df,
    score_transitions,
    typosquat_matches,
)
from kawa_spark.queries.stats import (
    KMV_DISTINCT_SQL,
    KMV_K,
    QSK_K,
    QUANTILE_SKETCH_SQL,
    _kmv_u,
    kmv_scores,
    quantile_sketch_scores,
)
from kawa_spark.registry import register
from kawa_spark.session import checkpoint_conf, scoped_conf
from kawa_spark.sources.file import RateSource
from kawa_spark.streaming.rollup import read_rollup, start_incremental_rollup
from kawa_spark.streaming.stateful import (
    beacon_scores,
    bottom_k_sample,
    funnel_states,
    net_hop_chains,
    net_hop_chains3,
    net_hops,
    rate_limited,
    running_total,
    session_totals,
    session_transitions,
)

def _await(q: StreamingQuery, what: str) -> None:
    """Wait for a bounded query, failing loudly on expiry.

    awaitTermination(timeout) returns False on expiry WITHOUT raising
    — a silent partial drain would feed a wrong (smaller) result to
    the correctness gate, so the query is stopped and TimeoutError
    raised instead."""
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(f"{what} did not finish within 300s")


def _drain(
    df: DataFrame,
    spark: SparkSession,
    mode: str = "append",
    state_partitions: int | None = 8,
) -> DataFrame:
    """Bounded drain through the real streaming runtime.

    The query's conf is scoped to start(): a streaming query clones
    the session conf there, and the state partition count is locked
    into the checkpoint at the first batch. scoped_conf holds its lock
    meanwhile, so concurrent drains cannot leave the session at each
    other's value. Two keys are scoped:

    * The checkpoint file manager of Spark's local temp checkpoint
      (``session.checkpoint_conf``, the rule every streaming start()
      follows).
    * ``state_partitions``, capped at the core count
      (``defaultParallelism``). A drain is one-shot: a state store
      beyond the cores buys no parallelism, yet still costs a store
      lifecycle and its files per batch, and for a pandas-state kernel
      one more Python task (each pays ~0.2 s of worker setup CPU).
      The cap changes nothing on hosts with at least
      ``state_partitions`` cores. None means the session default,
      uncapped."""
    name = f"q_{uuid.uuid4().hex[:10]}"
    conf = checkpoint_conf(spark, None)
    if state_partitions is not None:
        cores = spark.sparkContext.defaultParallelism
        conf["spark.sql.shuffle.partitions"] = str(min(state_partitions, cores))
    with scoped_conf(spark, conf):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
    _await(q, f"bounded drain {name}")
    return spark.table(name)


def _drain_files(df: DataFrame, spark: SparkSession, prefix: str) -> DataFrame:
    """Bounded drain through the real streaming runtime to a PARQUET
    sink instead of the memory sink: the drained rows stay
    EXECUTOR-SIDE (distributed write, distributed read-back) rather
    than materializing on the driver — the right drain when the
    drained volume scales with data (twin #19's per-doc signature
    table) instead of with keys/windows. The read-back is a plain
    parquet scan, so downstream self-joins need no localCheckpoint
    (no View(MemoryPlan) to trip the conflicting-references bug).

    Scratch discipline (code review r12): ONE per-process dir per
    prefix (the _plants_scratch_dir memoization), WIPED at the start
    of each drain — both the data and the checkpoint, since a stale
    checkpoint would mark the source files already-processed and
    silently drain nothing. Serial re-runs in a process therefore
    reuse a single bounded dir instead of leaking a fresh mkdtemp
    (and its full drained table) per invocation; frames returned by
    EARLIER drains of the same prefix are invalidated by the wipe,
    which matches the memory sink's same-name-requery semantics."""
    root = _plants_scratch_dir(prefix)
    shutil.rmtree(root, ignore_errors=True)
    with scoped_conf(spark, checkpoint_conf(spark, f"{root}/ckpt")):
        q = (
            df.writeStream.format("parquet")
            .option("path", f"{root}/data")
            .option("checkpointLocation", f"{root}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    _await(q, f"file drain {root}")
    if not os.path.isdir(f"{root}/data"):
        # zero committed microbatches: the parquet sink never creates
        # the path — mirror the memory sink's empty-table behavior
        return spark.createDataFrame([], df.schema)
    return spark.read.schema(df.schema).parquet(f"{root}/data")


_PLANT_DIRS: dict[str, str] = {}


def _plants_scratch_dir(prefix: str) -> str:
    """Per-process scratch dir for a planted stream or a file drain
    (code review: a fixed shared path collides under concurrent
    sessions — one run's overwrite deletes part files another run's
    file stream is reading; and r9's third copy of this helper was the
    drift class the ip_col() docstring warns about, so it is ONE
    helper now). Serial overwrites within a process are safe; the
    dirs are ~KBs and die with /tmp."""
    if prefix not in _PLANT_DIRS:
        _PLANT_DIRS[prefix] = tempfile.mkdtemp(prefix=prefix)
    return _PLANT_DIRS[prefix]


def _plant_stream(
    spark: SparkSession, prefix: str, plants_df: DataFrame
) -> DataFrame:
    """The planted rows as a SECOND file stream for the twin to
    unionByName onto its event stream (a batch-side union is not
    expressible in a streaming query): ``plants_df`` is written to the
    per-process scratch dir for ``prefix`` and read back with the
    frame's own schema. If a drain returns only natural keys, the
    plant source didn't attach."""
    path = _plants_scratch_dir(prefix)
    plants_df.coalesce(1).write.mode("overwrite").parquet(path)
    return spark.readStream.schema(plants_df.schema).parquet(path)


def _late0(sql: str) -> str:
    """A shared batch oracle plus the kernel's ``late_count`` pinned
    to 0: the drain runs in time order, so the late-row guard never
    fires, and a drain that ever exercised it would hash-mismatch."""
    return f"SELECT m.*, CAST(0 AS BIGINT) AS late_count FROM ({sql}) m"


@register(
    "stream_exec_tumbling",
    oracle="""
    SELECT
      date_trunc('hour', ts) AS window_start,
      event_type,
      COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_exec_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_tumbling_count through the ACTUAL streaming engine —
    complete-mode output over the bounded drain equals the batch
    aggregate, so even the streaming execution path is oracle-checked."""
    agg = (
        stream_table(spark, sf_dir, "events")
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    # state = hours × event types (~3.6k rows at sf0.1): 2 stores
    # measured fastest (8→1.41 s, 2→1.04 s, 1→0.94 s min-of-3; 2
    # keeps a second store for skew headroom at ~the same cost). The
    # 100k-key drains below keep the default of 8, which _drain caps
    # at the core count: there the per-batch state work scales with
    # volume and wants one store per core (running_total measured
    # 3.2→7.6 s at 1 store), but a store beyond the cores adds no
    # parallelism. Store count follows state volume, up to the cores.
    return _drain(agg, spark, mode="complete", state_partitions=2)


@register(
    "stream_exec_dedup_watermark",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    """,
)
def stream_exec_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dropDuplicates on event_id. event_ids are
    unique in the testdata, so the deduped stream equals the input
    relation — which is what the oracle states (and the single-batch
    bounded drain emits every row before any watermark advance)."""
    e = stream_table(spark, sf_dir, "events")
    dedup = (
        e.withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return _drain(dedup, spark)


@register(
    "stream_exec_running_total",
    oracle="""
    SELECT
      user_id, event_id, ts,
      CAST(SUM(CAST(value AS DECIMAL(12,2)))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        AS running_total
    FROM events
    """,
)
def stream_exec_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState cumulative sums (streaming/stateful.py).
    The state accumulates integer cents — the same exact arithmetic
    as the oracle's DECIMAL(12,2) window sum — so the streaming
    execution path is hash-checked, not just row-counted."""
    return _drain(running_total(stream_table(spark, sf_dir, "events")), spark)


@register(
    "stream_exec_session_totals",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, ts, CAST(value AS DECIMAL(12,2)) AS v
      FROM events
    ), marks AS (
      SELECT *, CASE WHEN LAG(ts) OVER w IS NULL
                     OR ts - LAG(ts) OVER w >= INTERVAL 1800 SECOND
                     THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks
    ), agg AS (
      SELECT user_id, sid, MIN(ts) AS session_start, COUNT(*) AS n_events,
             CAST(SUM(v) AS DOUBLE) AS total_value
      FROM sess GROUP BY 1, 2
    ), last AS (
      SELECT user_id, MAX(sid) AS max_sid FROM sess GROUP BY 1
    )
    SELECT a.user_id, a.session_start, a.n_events, a.total_value
    FROM agg a JOIN last l ON a.user_id = l.user_id AND a.sid < l.max_sid
    """,
)
def stream_exec_session_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful session aggregation. The oracle is the batch
    gaps-and-islands twin restricted to CLOSED sessions (each user's
    final session stays open in the state store — the bounded drain
    never emits it, and the oracle's `sid < max_sid` mirrors that).
    Cent-exact totals make the match a value hash, not rows-only."""
    return _drain(session_totals(stream_table(spark, sf_dir, "events")), spark)


@register(
    "stream_exec_stream_stream_join",
    oracle="""
    SELECT p.event_id AS p_id, c.event_id AS c_id,
           p.user_id AS p_user, p.ts AS p_ts, c.ts AS c_ts
    FROM events p JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    """,
)
def stream_exec_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each purchase joined to the same
    user's clicks within the preceding hour. Both sides watermarked;
    the time-bound condition lets the state store evict — unbounded
    stream-stream joins without a time constraint don't scale and are
    deliberately not offered.

    Oracle-checkable: the bounded drain runs the whole file source in
    one microbatch (no maxFilesPerTrigger), so the initial watermark
    drops nothing and the emitted matches equal the batch theta-join
    the oracle states."""
    e1 = stream_table(spark, sf_dir, "events")
    purchases = (
        e1.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    clicks = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select("p_id", "c_id", "p_user", "p_ts", "c_ts")
    return _drain(joined, spark)


@register(
    "stream_exec_stream_static_join",
    oracle="""
    WITH dim AS (
      SELECT user_id, MIN(ts) AS first_seen FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.event_type,
           (epoch_us(e.ts) / 1000000.0)
             - (epoch_us(d.first_seen) / 1000000.0)
             AS seconds_since_first_seen
    FROM events e JOIN dim d USING (user_id)
    """,
)
def stream_exec_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the streaming fact side joins a static
    (broadcastable) dimension — no state store involved; the dim is
    re-resolved per microbatch.

    Oracle-checkable: the dim is batch-computed and the stream drains
    in one microbatch, so the join output equals the batch join. The
    seconds math is µs/1e6 double division on both engines —
    bit-identical."""
    dim = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_seen"))
    )
    e = stream_table(spark, sf_dir, "events")
    joined = e.join(F.broadcast(dim), "user_id").select(
        "event_id",
        "user_id",
        "event_type",
        (F.col("ts").cast("double") - F.col("first_seen").cast("double")).alias(
            "seconds_since_first_seen"
        ),
    )
    return _drain(joined, spark)


@register(
    "stream_exec_incremental_rollup",
    oracle="""
    SELECT
      date_trunc('hour', ts) AS window_start,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_exec_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-aggregate path (streaming/rollup.py): maintain a
    parquet rollup table from the bounded event stream, then read it
    back. Oracle-checkable: the materialized table equals the batch
    hourly aggregate (idempotent dynamic-partition overwrite; DECIMAL
    sums are order-independent, so parallel and sequential agree)."""
    base = tempfile.mkdtemp(prefix="kawa_rollup_")
    # State here is hours × event types (~thousands of rows), so TWO
    # store knobs pay off (r8 conf sweep, docs/STATUS.md):
    # * ONE state partition (r6: 8→4 cut the drain 3.9→2.5 s; r7:
    #   4→1 a further 2.9→2.5 — per-batch store lifecycle scales with
    #   instance count, not rows);
    # * the in-memory HDFSBackedStateStoreProvider instead of RocksDB
    #   (2.12 → 1.90 s min-of-3 on top of changelog checkpointing —
    #   session.py's default): RocksDB's native-instance open/commit
    #   is pure overhead for KB-scale state. This is NOT a small-SF
    #   cheat: the rollup's state is ∝ windows × types at ANY input
    #   volume, so the in-memory provider remains correct at 100 TB —
    #   the provider choice keys on STATE size, never input size.
    #   Each call uses a fresh checkpoint, so flipping the provider
    #   per-query is safe (it's locked into a checkpoint at first
    #   batch; the streaming query captures a cloned conf at start,
    #   so the scope covers start() only).
    provider = (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    )
    with scoped_conf(
        spark, {"spark.sql.streaming.stateStore.providerClass": provider}
    ):
        q = start_incremental_rollup(
            spark,
            stream_table(spark, sf_dir, "events"),
            path=f"{base}/table",
            checkpoint=f"{base}/cp",
            available_now=True,
            state_partitions=1,
        )
    _await(q, "incremental rollup drain")
    return read_rollup(spark, f"{base}/table")


@register(
    "stream_passthrough",
    # The delivered-count is the whole contract (the reference's bench
    # asserts all N messages arrive): a constant oracle makes the driver
    # verify exact 1,000,000-row delivery, not just "some rows came out".
    oracle="SELECT CAST(1000000 AS BIGINT) AS delivered",
)
def stream_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's headline bench shape: N messages through a
    source→identity→sink pipeline (/root/reference/test/stream_test.go:29-41,
    ≈2.13 M msg/s on its laptop config; see BASELINE.md). Here: one
    bounded microbatch of 1 M envelope rows through the streaming
    engine into a counting sink; returns a 1-row DataFrame with the
    count for the rows-check."""
    # partitions = available cores: the reference pays no partitioning
    # tax, so neither should the Spark twin
    par = spark.sparkContext.defaultParallelism
    src = RateSource(total_rows=1_000_000, num_partitions=par)
    env = normalize(src.read(spark), value="value", key="value", topic="bench")
    # observe() counts inside the SAME materialization the noop sink
    # drives — one pass end-to-end, like the reference's counting sink
    # (a separate .count() would re-execute the whole pipeline)
    obs = Observation("passthrough")
    env.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return spark.range(1).select(F.lit(obs.get["n"]).alias("delivered"))


@register(
    "stream_exec_rate_limit",
    oracle=f"""
    WITH t AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events
    )
    SELECT event_id, user_id, event_type, us,
           COUNT(*) OVER (
             PARTITION BY user_id ORDER BY us
             RANGE BETWEEN {RATE_WINDOW_US} PRECEDING AND CURRENT ROW
           ) AS n_in_window,
           COUNT(*) OVER (
             PARTITION BY user_id ORDER BY us
             RANGE BETWEEN {RATE_WINDOW_US} PRECEDING AND CURRENT ROW
           ) > {RATE_LIMIT} AS is_limited
    FROM t
    """,
)
def stream_exec_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONLINE rate limiter through the real streaming runtime:
    applyInPandasWithState keeps each user's trailing-window
    timestamps (streaming/stateful.py::rate_limited) and emits the
    count + over-limit flag per event as it arrives — the form
    kawa's security-log domain actually deploys; events_rate_limit
    is its offline batch audit and supplies the oracle (both oracle
    and implementation interpolate the SAME events.py constants, so
    tuning the limit can't drift the twins apart — code review r8).
    Bisect-based counting over merged state+batch times reproduces
    the RANGE frame's tied-timestamp peer semantics exactly, so the
    bounded drain hash-matches the batch SQL."""
    return _drain(
        rate_limited(
            stream_table(spark, sf_dir, "events"), RATE_WINDOW_US, RATE_LIMIT
        ),
        spark,
    )


@register("stream_exec_first_seen", oracle=FIRST_SEEN_SQL)
def stream_exec_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_first_seen's pair inventory maintained ONLINE: the
    (user_id, event_type) -> MIN(ts) aggregate runs through the real
    streaming runtime (complete-mode bounded drain — streaming MIN is
    order-insensitive, so late/out-of-order arrivals converge to the
    same first-seen state a batch MIN produces), then the drained
    inventory goes through the SAME day-rollup/cumulative core as the
    batch key (security.first_seen_curve). Oracle = the batch key's
    SQL verbatim: the streaming execution path itself is hash-checked,
    not just row-counted.

    Scale: streaming state = one long per live (user, type) pair —
    the entity inventory a first-seen detector must hold in ANY
    engine; per-batch work is the pair-keyed partial MIN. Spark can't
    chain a second streaming aggregation in one query, so the
    emergence curve is the read-side batch pass over the (tiny)
    drained state — at 100 TB/day the pair table is still orders of
    magnitude smaller than the stream."""
    e = stream_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    agg = e.groupBy("user_id", "event_type").agg(
        F.min("ts_us").alias("first_us")
    )
    # state rows = |pairs| (~50k at sf0.1): keep the default of 8,
    # capped at the core count (see the store-count note in
    # stream_exec_tumbling).
    p = _drain(agg, spark, mode="complete")
    return first_seen_curve(p)


@register(
    "stream_exec_beaconing",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
      FROM events
      UNION ALL{PLANTS_SQL}
    ), d AS (
      SELECT user_id, event_type, event_id, ts_us,
             ts_us - LAG(ts_us) OVER (
               PARTITION BY user_id, event_type ORDER BY ts_us, event_id
             ) AS d_us
      FROM ev
    ), g AS (
      SELECT user_id, event_type, event_id, ts_us,
             CAST(d_us // 1000000 AS HUGEINT) AS d_s
      FROM d WHERE d_us IS NOT NULL
    ), s AS (
      SELECT user_id, event_type, event_id,
             COUNT(*) OVER w AS n,
             SUM(d_s) OVER w AS sd,
             SUM(d_s * d_s) OVER w AS sd2
      FROM g
      WINDOW w AS (PARTITION BY user_id, event_type
                   ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id, event_type, event_id, CAST(n AS BIGINT) AS n_gaps,
           CAST(sd AS DOUBLE) / n AS period_s,
           ({BEACON_CV2_DEN} * (n * sd2 - sd * sd)
              <= {BEACON_CV2_NUM} * (sd * sd)) AS is_beacon,
           CAST(0 AS BIGINT) AS late_count
    FROM s WHERE n >= {BEACON_MIN_GAPS}
    """,
)
def stream_exec_beaconing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_beaconing maintained ONLINE: per-(user, type) gap power
    sums through the real streaming runtime
    (streaming/stateful.py::beacon_scores), emitting a verdict row
    for every event past the min-gap threshold — the alert fires as
    the callback arrives, instead of at the end-of-day batch sweep.
    The oracle is the PREFIX form of the batch key's stats (running
    window sums over the same ordered gap sequence, plants included
    via the shared PLANTS_SQL), so the streaming path is hash-checked
    per event, not just at the final aggregate. The planted callback
    streams ride the STREAM itself (written to a scratch parquet and
    unioned as a second file source) — a batch-side union is not
    expressible in a streaming query.

    Scale: state is five int64s per (user, type) key; output is
    bounded by events on keys past min_gaps. Same time-ordered-batch
    contract as stream_exec_rate_limit (kernel docstring) — and the
    contract is now DRIVER-CHECKED, not just documented: every output
    row carries the kernel's cumulative late-row counter and the
    oracle pins it to 0, so a drain that ever exercised the late-row
    guard would hash-mismatch (the banked r9 observability item)."""
    e = stream_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts"
    )
    p = _plant_stream(
        spark,
        "kawa_beacon_plants_",
        _planted_beacons(spark).select(
            "user_id",
            "event_type",
            "event_id",
            F.timestamp_micros("ts_us").alias("ts"),
        ),
    )
    return _drain(
        beacon_scores(
            e.unionByName(p),
            BEACON_MIN_GAPS,
            BEACON_CV2_NUM,
            BEACON_CV2_DEN,
        ),
        spark,
    )


@register(
    "stream_exec_impossible_travel", oracle=_late0(IMPOSSIBLE_TRAVEL_SQL)
)
def stream_exec_impossible_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_impossible_travel's stateful half run ONLINE: each
    event's address goes through the map-side CIDR longest-prefix
    match (stateless, stream-compatible — the nets plan rides in as a
    1-row broadcast), then streaming/stateful.py::net_hops keeps each
    user's (last_net, last_us) in the state store and emits hop rows
    the moment a user shows up on a different network inside the
    window. The drained per-hop rows roll up batch-side to the same
    net-to-net matrix as the batch key; oracle = the batch key's SQL
    verbatim (shared IMPOSSIBLE_TRAVEL_SQL constant), so the online
    path is hash-checked against the offline audit.

    Scale: state is three scalars per user; the streaming exchange is
    the user_id state partitioning; the post-drain rollup shuffles
    only surviving hops onto |nets|^2 keys. Same time-ordered-batch
    contract as the other kernels — now DRIVER-CHECKED (VERDICT r9
    item 6): each hop carries the kernel's cumulative late-row
    counter, the rollup emits MAX(late_count) per cell, and the
    oracle pins it to 0."""
    e = stream_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        ip_col(),
    )
    m = longest_prefix_match(e, nets_df(spark)).drop("plen", "ip")
    drained = _drain(net_hops(m, HOP_WINDOW_US), spark)
    return drained.groupBy("from_net", "to_net").agg(
        F.count(F.lit(1)).alias("n_hops"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("late_count").alias("late_count"),
    )


@register(
    "stream_exec_session_rarity", oracle=_late0(SESSION_RARITY_SQL)
)
def stream_exec_session_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_session_rarity's stateful half run ONLINE: the
    sessionizer lives in the state store (streaming/stateful.py::
    session_transitions keeps (session_idx, last_us, last_type) per
    user and emits each in-session transition as it arrives), and the
    drained transition rows go through the SAME Markov-model scorer
    as the batch key (security.score_transitions, shared verbatim).
    Oracle = the batch key's SQL verbatim (shared SESSION_RARITY_SQL
    constant), so the online sessionization path is hash-checked
    against the offline audit — the banked r9 candidate exactly as
    STATUS sketched it.

    The model is fitted on the drained transitions themselves: the
    in-order drain reproduces the batch transition multiset exactly,
    so fit-then-score downstream of the kernel equals the batch form
    (a deployment scoring against YESTERDAY's model broadcasts a
    static pairs/totals table instead — same plan, no refit).

    Scale: state is three int64s + a type string per user — the O(1)
    sessionizer minimum; the streaming exchange is the user_id state
    partitioning; the scorer's joins are broadcast (|types|² model)
    and the final aggregate shuffles only transitions onto session
    keys. Same time-ordered-batch contract as the other kernels —
    now DRIVER-CHECKED (VERDICT r9 item 6): each transition carries
    the kernel's cumulative late-row counter, the key emits the
    per-session MAX, and the oracle pins it to 0."""
    e = stream_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    )
    # localCheckpoint: the scorer self-joins the drained frame
    # (tr ⋈ aggregates-of-tr); Spark's conflicting-attribute dedup
    # fails with an INTERNAL_ERROR on memory-sink View plans, so
    # truncate lineage to a plain (still partitioned, executor-held)
    # materialization first. Cost ≈ one cache of the transition rows,
    # which the scorer reads three times anyway.
    drained = _drain(
        session_transitions(e, SESSION_GAP_US), spark
    ).localCheckpoint()
    # The shared scorer stays untouched; the late-row observability
    # column (VERDICT r9 item 6) rides a second aggregate on the SAME
    # (user_id, session_idx) key and joins back — every scored session
    # has >= 1 transition, so the inner join preserves rows, and the
    # oracle pins the column to 0.
    late = drained.groupBy("user_id", "session_idx").agg(
        F.max("late_count").alias("late_count")
    )
    return score_transitions(drained).join(
        late, ["user_id", "session_idx"]
    )


@register("stream_exec_template_drift", oracle=TEMPLATE_DRIFT_SQL)
def stream_exec_template_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logs_template_drift maintained ONLINE: the per-(template, day)
    line counts run as a streaming aggregation (masking is stateless
    JVM regex — stream-compatible as-is; logs.mask_template), and the
    drained counts go through the SAME drift projection as the batch
    key (logs.drift_report, shared verbatim). Oracle = the batch
    key's SQL verbatim (shared TEMPLATE_DRIFT_SQL constant) — the
    streaming aggregation path is hash-checked, not just row-counted.
    This is the operational form a log platform actually runs: the
    day's template counts accumulate as lines arrive, and the drift
    report reads the live aggregate instead of re-scanning the day.

    Scale: streaming state = |templates| × |live days| counters
    (hundreds — the Drain-paper pattern cardinality, NOT line
    volume); per-batch work is the map-side masked partial count.
    Spark can't chain the drift windows onto a streaming aggregate in
    one query, so the report is the read-side batch pass over the
    (tiny) drained counts — the stream_exec_first_seen shape."""
    e = stream_table(spark, sf_dir, "events")
    daily = daily_template_counts(
        e.select(
            F.unix_micros("ts").alias("us"),
            mask_template(raw_msg_col()).alias("template"),
        )
    )
    # state rows = templates × days (~150 at sf0.1): 2 stores, the
    # stream_exec_tumbling reasoning (store count follows state
    # volume).
    counts = _drain(daily, spark, mode="complete", state_partitions=2)

    return drift_report(counts)


@register("stream_exec_anomaly_mad", oracle=ANOMALY_MAD_SQL)
def stream_exec_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_anomaly_mad maintained ONLINE — the seventh
    online/offline detection twin: the per-(event_type, day) counts
    run as a streaming aggregation (exact floor-div day buckets are
    stateless expressions), and the drained count table goes through
    the SAME median/MAD scorer as the batch key (events.mad_scores,
    shared verbatim). Oracle = the batch key's SQL verbatim (shared
    ANOMALY_MAD_SQL constant), so the streaming aggregation path is
    hash-checked. The planted spike rides the STREAM as a second file
    source (the stream_exec_beaconing pattern — a batch-side union is
    not expressible in a streaming query), so the true-spike case is
    verified through the real runtime, not just the all-false
    complement.

    The medians are fitted on the drained counts themselves — the
    operational shape: counts accumulate as events arrive; the
    (cheap) median/MAD report reads the live aggregate on demand
    instead of re-scanning the day. Streaming count is
    order-insensitive (like stream_exec_first_seen's MIN, unlike the
    gap kernels), so this twin is exact under ANY batch order — no
    time-ordered-batch contract needed.

    Scale: streaming state = |types| × |live days| counters; per-batch
    work is the map-side partial count; the scorer's windows and
    broadcast joins run on the tiny drained table."""
    p = _plant_stream(spark, "kawa_mad_plants_", _mad_planted(spark))
    e = stream_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("ts_us")
    )
    daily = (
        e.unionByName(p)
        .groupBy(
            "event_type", floordiv(F.col("ts_us"), DAY_US).alias("day")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # state rows = types × days (~200): 2 stores (store count follows
    # state volume — the stream_exec_tumbling reasoning).
    # localCheckpoint: mad_scores self-joins the drained frame (daily
    # ⋈ aggregates-of-daily), the memory-sink-View attribute-dedup
    # INTERNAL_ERROR class stream_exec_session_rarity hit — truncate
    # lineage first (here the frame is ~200 rows).
    counts = _drain(
        daily, spark, mode="complete", state_partitions=2
    ).localCheckpoint()
    return mad_scores(counts)


@register("stream_exec_funnel", oracle=FUNNEL_SQL)
def stream_exec_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_funnel maintained ONLINE — the eighth online/offline
    detection twin, and a genuinely new state shape: the kernel
    (streaming/stateful.py::funnel_states) holds each user's three
    write-once funnel slots and emits a row the moment a slot fills,
    so "user just converted" fires at arrival instead of the batch
    sweep. The drained emissions roll up to one row per user — the
    max-stage emission, whose slots are final because slots never
    change once set — and that relation is hash-checked against the
    batch key's oracle VERBATIM (shared FUNNEL_SQL constant).

    Scale: state is four int64s + the late counter per user; the
    streaming exchange is the user_id state partitioning; the rollup
    shuffles at most three rows per converting user. Same
    time-ordered-batch contract as the other gap kernels, with the
    late-row guard counted in-state (the beacon observability
    pattern — surfaced on kernel emissions; the rollup drops it to
    keep the oracle shared verbatim)."""
    e = stream_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    drained = _drain(funnel_states(e), spark)
    s = F.max(
        F.struct("stage", "t_view", "t_click", "t_purchase")
    ).alias("s")
    return (
        drained.groupBy("user_id")
        .agg(s)
        .select(
            "user_id",
            F.col("s.t_view").alias("t_view"),
            F.col("s.t_click").alias("t_click"),
            F.col("s.t_purchase").alias("t_purchase"),
            F.col("s.stage").alias("stage"),
        )
    )


@register("stream_exec_dga_score", oracle=DGA_SCORE_SQL)
def stream_exec_dga_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logs_dga_score maintained ONLINE — the ninth online/offline
    detection twin: the domain derivation is stateless map-side work
    (md5 + CASE, stream-compatible as-is), and the per-domain
    distinct-actor count — which streaming aggregation cannot express
    directly (no COUNT DISTINCT on a stream) — uses the pair-drain
    pattern from stream_exec_first_seen: the streaming aggregate
    maintains (domain, user) pair counts, and the read-side batch
    pass rolls pairs up to n_events/n_users and applies the SAME
    feature core (security.dga_features). Oracle = the batch key's
    SQL verbatim (shared DGA_SCORE_SQL constant). Streaming COUNT is
    order-insensitive — exact under ANY batch order, no ordering
    contract.

    Scale: streaming state = live (domain, user) pairs — the same
    inventory a first-seen detector holds; the rollup and char math
    run on the drained pair table (≪ stream volume)."""
    e = stream_table(spark, sf_dir, "events").select(
        "event_id", "user_id", domain_col().alias("domain")
    )
    pairs = e.groupBy("domain", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    drained = _drain(pairs, spark, mode="complete")
    agg = drained.groupBy("domain").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.count(F.lit(1)).alias("n_users"),
    )
    return dga_features(agg)


@register("stream_exec_password_spray", oracle=PASSWORD_SPRAY_SQL)
def stream_exec_password_spray(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_password_spray maintained ONLINE — the tenth
    online/offline detection twin. The address attribution is
    stateless map-side work (ip derivation + broadcast CIDR LPM,
    stream-compatible as-is — the stream_exec_impossible_travel
    front half), and the per-(net, hour) distinct-account count uses
    the pair-drain pattern from stream_exec_dga_score: the streaming
    aggregate maintains (net, hour, user) triple counts, the
    read-side batch pass rolls triples up to n_attempts/n_users and
    applies the SAME integer spray rule. Oracle = the batch key's SQL
    verbatim (shared PASSWORD_SPRAY_SQL constant); the planted spray
    rides the STREAM as a second file source (shared _planted_spray
    constructor). Streaming COUNT is order-insensitive — exact under
    ANY batch order, no ordering contract.

    Scale: streaming state = live (net, hour, user) triples — one
    row per account a network touched in an hour, the exact inventory
    the detection needs and far below event volume; the rollup runs
    on the drained triple table."""
    e = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "signup")
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            ip_col(),
        )
    )
    p = _plant_stream(spark, "kawa_spray_plants_", _planted_spray(spark))
    m = longest_prefix_match(e.unionByName(p), nets_df(spark))
    triples = m.groupBy(
        "net",
        floordiv(F.col("ts_us"), HOUR_US).alias("hour_slot"),
        "user_id",
    ).agg(F.count(F.lit(1)).alias("n"))
    drained = _drain(triples, spark, mode="complete")
    return (
        drained.groupBy("net", "hour_slot")
        .agg(
            F.sum("n").cast("long").alias("n_attempts"),
            F.count(F.lit(1)).alias("n_users"),
        )
        .withColumn(
            "is_spray", F.col("n_users") >= F.lit(SPRAY_MIN_USERS)
        )
    )


@register("stream_exec_typosquat", oracle=TYPOSQUAT_SQL)
def stream_exec_typosquat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logs_typosquat maintained ONLINE — the eleventh online/offline
    detection twin (the banked r10 candidate exactly as STATUS
    sketched it): the domain derivation is stateless map-side work,
    the per-domain event/distinct-actor counts — COUNT DISTINCT is
    inexpressible on a stream — use the pair-drain pattern from
    stream_exec_dga_score (streaming (domain, user) pair counts,
    read-side rollup), and the drained per-domain aggregate goes
    through the SAME fuzzy-dimension-join core as the batch key
    (security.typosquat_matches, the levenshtein 1..2 whitelist join
    behind the length band). Oracle = the batch key's SQL verbatim
    (shared TYPOSQUAT_SQL constant, plants included); the three
    planted look-alike domains ride the STREAM as a second file
    source (shared _typo_plant_rows constructor). Streaming COUNT is
    order-insensitive — exact under ANY batch order, no ordering
    contract.

    Scale: streaming state = live (domain, user) pairs — the
    first-seen inventory, far below event volume; the metric join
    runs on the drained per-domain rollup (|domains| x |whitelist|),
    never on the stream itself."""
    e = stream_table(spark, sf_dir, "events").select(
        "event_id", "user_id", domain_col().alias("domain")
    )
    p = _plant_stream(
        spark,
        "kawa_typo_plants_",
        spark.createDataFrame(
            _typo_plant_rows(), "event_id long, user_id long, domain string"
        ),
    )
    pairs = (
        e.unionByName(p)
        .groupBy("domain", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    drained = _drain(pairs, spark, mode="complete")
    agg = drained.groupBy("domain").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.count(F.lit(1)).alias("n_users"),
    )
    wl = spark.createDataFrame([(d,) for d in DGA_VOCAB], "wl_domain string")
    return typosquat_matches(agg, wl, TYPOSQUAT_MAX_DIST)


@register(
    "stream_exec_lateral_movement", oracle=_late0(LATERAL_MOVEMENT_SQL)
)
def stream_exec_lateral_movement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_lateral_movement's stateful half run ONLINE — the
    thirteenth online/offline twin: the broadcast CIDR LPM attributes
    each event map-side (stream-compatible as-is), then
    streaming/stateful.py::net_hop_chains keeps each user's last
    attributed net AND most recent completed hop in the state store,
    emitting the (A → B → C) chain row the moment the second hop
    lands — the pivot alert at arrival time. The drained chain rows
    roll up to the same (net_a, net_b, net_c) inventory as the batch
    key; oracle = the batch key's SQL verbatim (shared
    LATERAL_MOVEMENT_SQL constant) plus the pinned-to-0 late counter;
    the planted walks ride the STREAM as a second file source (shared
    _lm_plant_rows constructor).

    Scale: state is two (net, interval) pairs + a counter per user;
    the streaming exchange is the user_id state partitioning; the
    post-drain rollup shuffles only surviving chains onto
    |nets|³-bounded keys. Same time-ordered-batch contract as the
    other gap kernels, DRIVER-CHECKED via late_count."""
    e = stream_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        ip_col(),
    )
    p = _plant_stream(
        spark,
        "kawa_lm_plants_",
        spark.createDataFrame(
            _lm_plant_rows(), "event_id long, user_id long, us long, ip long"
        ),
    )
    m = longest_prefix_match(e.unionByName(p), nets_df(spark)).drop(
        "plen", "ip"
    )
    drained = _drain(
        net_hop_chains(m, HOP_WINDOW_US, CHAIN_WINDOW_US), spark
    )
    return (
        drained.groupBy("net_a", "net_b", "net_c")
        .agg(
            F.count(F.lit(1)).alias("n_chains"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("span_us").alias("min_span_us"),
            F.max("late_count").alias("late_count"),
        )
        .select(  # oracle column order: is_roundtrip before late_count
            "net_a",
            "net_b",
            "net_c",
            "n_chains",
            "n_users",
            "min_span_us",
            (F.col("net_a") == F.col("net_c")).alias("is_roundtrip"),
            "late_count",
        )
    )


@register("stream_exec_dow_association", oracle=DOW_ASSOC_SQL)
def stream_exec_dow_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_dow_association maintained ONLINE — the twelfth
    online/offline twin: the day-of-week derivation is stateless
    map-side work (exact floor-div day + pmod, stream-compatible
    as-is), the (event_type, dow) cell counts run as a streaming
    aggregation in complete mode, and the drained cell table goes
    through the SAME contingency scorer as the batch key
    (events.dow_association). Oracle = the batch key's SQL verbatim
    (shared DOW_ASSOC_SQL constant); the planted weekly-periodic
    stream rides the STREAM as a second file source (shared
    _dow_planted constructor). Streaming COUNT is order-insensitive —
    exact under ANY batch order, no ordering contract.

    Scale: streaming state = live (type, dow) cells — at most
    |types|·7 rows regardless of volume, the cheapest state any twin
    here holds; the scorer runs on the drained cell table with
    broadcast marginals."""
    e = stream_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("ts_us")
    )
    p = _plant_stream(spark, "kawa_dow_plants_", _dow_planted(spark))
    cells = (
        e.unionByName(p)
        .groupBy(
            "event_type",
            F.pmod(floordiv(F.col("ts_us"), DAY_US), F.lit(7)).alias("dow"),
        )
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    # localCheckpoint: the scorer joins the drained frame with three
    # aggregates OF ITSELF (the memory-sink self-join trap — Spark's
    # conflicting-attribute dedup fails on View(MemoryPlan); the
    # stream_exec_session_rarity precedent). The frame is ≤ |types|·7
    # rows, so the materialization is free.
    drained = _drain(
        cells, spark, mode="complete", state_partitions=2
    ).localCheckpoint()
    return dow_association(drained)


@register(
    "stream_exec_lateral_movement_3hop", oracle=_late0(LATERAL_3HOP_SQL)
)
def stream_exec_lateral_movement_3hop(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """events_lateral_movement_3hop's stateful half run ONLINE — the
    eighteenth online/offline twin: the net_hop_chains3 kernel
    (streaming/stateful.py) holds two remembered hop slots per user
    and fires the 4-net pivot alert on the THIRD hop's arrival; the
    drained per-chain rows roll up to the same (A,B,C,D) inventory
    the batch key's oracle states, with the cumulative late counter
    pinned to 0 (time-ordered-batch contract, driver-checked). The
    CIDR match stays stateless map-side LPM; the LM3 plant walks
    ride the stream as a second file source."""
    e = stream_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        ip_col(),
    )
    p = _plant_stream(
        spark,
        "kawa_lm3_plants_",
        spark.createDataFrame(
            _lm3_plant_rows(), "event_id long, user_id long, us long, ip long"
        ),
    )
    m = longest_prefix_match(e.unionByName(p), nets_df(spark)).drop(
        "plen", "ip"
    )
    drained = _drain(
        net_hop_chains3(m, HOP_WINDOW_US, CHAIN3_WINDOW_US), spark
    )
    return (
        drained.groupBy("net_a", "net_b", "net_c", "net_d")
        .agg(
            F.count(F.lit(1)).alias("n_chains"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("span_us").alias("min_span_us"),
            F.max("late_count").alias("late_count"),
        )
        .select(  # oracle column order: is_roundtrip before late_count
            "net_a",
            "net_b",
            "net_c",
            "net_d",
            "n_chains",
            "n_users",
            "min_span_us",
            (F.col("net_a") == F.col("net_d")).alias("is_roundtrip"),
            "late_count",
        )
    )


@register("stream_exec_dow_drift", oracle=DOW_DRIFT_SQL)
def stream_exec_dow_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_dow_drift maintained ONLINE — the sixteenth
    online/offline twin: week/dow derivation is stateless map-side
    floor-div work, the (event_type, week, dow) cell counts run as a
    streaming aggregation in complete mode, and the drained cell
    table goes through the SAME trailing-baseline scorer as the batch
    key (events.dow_drift_report). Oracle = the batch key's SQL
    verbatim (shared DOW_DRIFT_SQL constant); the planted drifting
    stream rides the STREAM as a second file source (shared
    _dow_drift_planted constructor). Streaming COUNT is
    order-insensitive — exact under ANY batch order, no ordering
    contract, no late_count column needed.

    Scale: streaming state = live (type, week, dow) cells — bounded
    by |types|·7 per week of stream time (a TIME dimension, like
    stream_exec_tumbling's hour buckets, never data volume); in a
    production deployment a watermark on the week column would expire
    closed weeks. The scorer's windows run over the drained cell
    table (≤ |types|·weeks·7 rows)."""
    e = stream_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("ts_us")
    )
    p = _plant_stream(
        spark, "kawa_dowdrift_plants_", _dow_drift_planted(spark)
    )
    cells = (
        e.unionByName(p)
        .groupBy(
            "event_type",
            floordiv(F.col("ts_us"), WEEK_US).alias("week"),
            F.pmod(floordiv(F.col("ts_us"), DAY_US), F.lit(7)).alias("dow"),
        )
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    drained = _drain(cells, spark, mode="complete", state_partitions=2)
    return dow_drift_report(drained)


@register("stream_exec_dedup_incremental", oracle=INCREMENTAL_DEDUP_SQL)
def stream_exec_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_incremental maintained ONLINE — the seventeenth
    online/offline twin, and the production shape of cross-snapshot
    dedup: today's document STREAM classified against yesterday's
    committed kept-set index. Two streaming legs through the real
    runtime, then the SAME classifier as the batch key
    (llm_dedup.classify_incremental):

    * enrichment leg (append, stateless): each streamed doc's
      normalized digest stream-static-joins the BROADCAST prior
      index — the per-microbatch lookup a deployment would run as
      the ingest filter;
    * keeper leg (complete-mode stateful agg): MIN(doc_id) per
      digest — order-insensitive, exact under ANY batch order, so no
      ordering contract or late_count is needed; state = one row per
      live digest of the RUN's batch (bounded by the day's crawl,
      never corpus history — the prior corpus lives in the compact
      index, not the state store).

    Oracle = the batch key's SQL verbatim (shared
    INCREMENTAL_DEDUP_SQL constant); the planted new docs ride the
    STREAM as a second file source.

    Scale: the streamed batch shuffles once per microbatch on the
    16-byte digest for the keeper state; the prior index is the same
    broadcast/bucketed story as the batch key. The final classify
    join runs on the two drained legs (|batch| + |digests| rows)."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    # batch side: the shared split builds the prior kept set (the new
    # half is discarded here — it arrives as the STREAM below)
    prior, _ = snapshot_split(spark, d, INC_PLANTS_PRIOR, [])
    prior_idx = prior_digest_index(prior)

    s = stream_table(spark, sf_dir, "documents").select("doc_id", "text")
    sn = s.filter(~is_prior_doc(F.col("doc_id")))
    p = _plant_stream(
        spark,
        "kawa_incdedup_plants_",
        spark.createDataFrame(INC_PLANTS_NEW, "doc_id long, text string"),
    )
    nh = sn.unionByName(p).select(
        "doc_id", _norm_digest(F.col("text")).alias("h")
    )
    enriched = _drain(nh.join(F.broadcast(prior_idx), "h", "left"), spark)
    keeper = _drain(
        nh.groupBy("h").agg(F.min("doc_id").alias("keeper_id")),
        spark,
        mode="complete",
        state_partitions=2,
    )
    return classify_incremental(enriched.join(keeper, "h"))


@register(
    "stream_exec_dedup_incremental_minhash", oracle=_inc_minhash_oracle()
)
def stream_exec_dedup_incremental_minhash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dedup_incremental_minhash maintained ONLINE — the nineteenth
    online/offline twin, and the near-dup sibling of
    stream_exec_dedup_incremental: today's document STREAM is
    shingled, md5-minhashed, and signature-tagged MAP-SIDE on the
    stream (every stage expression-level — the real streaming value:
    no state store, no ordering contract, a stateless 1:1 transform
    per microbatch), drained, then unioned with the STATIC prior
    corpus's signature state and fed to the same sig-level core as
    the batch key (llm_dedup.incremental_minhash_from_sigs — banding,
    combined-population bucket cap, new×prior candidate pairing,
    exact-jaccard verify).

    Oracle = the batch key's SQL verbatim (_inc_minhash_oracle); the
    planted new docs (the 37/41-jaccard re-crawl + the novel doc)
    ride the STREAM as a second file source. Composition equality of
    the drained-sigs path with the batch core is separately pinned by
    tests/test_incremental_minhash.py
    ::test_sig_level_core_composes_with_drained_stream; twin equality
    of THIS registered key against the batch key by
    ::test_registered_twin_equals_batch_key.

    Scale: per microbatch the stream pays exactly the batch key's
    map-side signature cost for the day's documents; the prior
    signature/band state is the persisted bucketed table of the batch
    key's story (never recomputed in production — here rebuilt from
    the split for the bounded drain). State held by the RUNTIME is
    zero rows: the only streaming stage is stateless. The drain goes
    through the PARQUET sink (_drain_files), not the memory sink —
    the drained signature table is the one per-DOC (volume-scaling)
    drain in the twin tier, so it must stay executor-side: a
    distributed write + scan, never a driver materialization (and the
    parquet read-back needs no localCheckpoint guard for the verify
    half's self-join). This is literally the production shape — the
    stream writes the day's signature table where the next snapshot's
    prior state will be read from."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    # batch side: the shared split builds the prior kept corpus (the
    # new half is discarded here — it arrives as the STREAM below)
    prior, _ = snapshot_split(spark, d, INC_MH_PLANTS_PRIOR, [])
    prior_sig = minhash_signatures(
        prior.withColumn("side", F.lit("p")), extra=("side",)
    )

    s = stream_table(spark, sf_dir, "documents").select("doc_id", "text")
    sn = s.filter(~is_prior_doc(F.col("doc_id")))
    p = _plant_stream(
        spark,
        "kawa_incmh_plants_",
        spark.createDataFrame(INC_MH_PLANTS_NEW, "doc_id long, text string"),
    )
    sig_stream = minhash_signatures(
        sn.unionByName(p).withColumn("side", F.lit("n")), extra=("side",)
    )
    drained = _drain_files(sig_stream, spark, "kawa_incmh_sigdrain_")
    # the prior-sig cache sits under the band cache, so the helper's
    # one count of the bands fills both layers
    sig = prior_sig.unionByName(drained)
    bands = minhash_band_rows(sig, extra=("side",))
    return materialize(
        incremental_minhash_from_bands(sig, bands), prior_sig, bands
    )


@register(
    "stream_exec_dedup_incremental_embedding",
    oracle=_inc_embedding_oracle(),
)
def stream_exec_dedup_incremental_embedding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dedup_incremental_embedding maintained ONLINE — the twentieth
    online/offline twin, completing the incremental-dedup family's
    third modality (digest twin #17, minhash twin #19, embedding
    here): today's embedding STREAM is sign-LSH-signature-tagged
    MAP-SIDE (stateless 1:1 transform per microbatch — no state
    store, no ordering contract), drained through the PARQUET sink
    (the per-VECTOR signature table is the volume-scaling drain, so
    it stays executor-side like twin #19's), unioned with the STATIC
    prior corpus's signature state, and fed to the same sig-level
    core as the batch key (llm_similarity.incremental_embedding_
    from_sigs — combined-population bucket cap, new×prior pairing,
    exact left-fold cosine ≥ 0.9 verify).

    Oracle = the batch key's SQL verbatim (_inc_embedding_oracle);
    the derived scaled re-embed plants ride the STREAM as a second
    file source (written once from the prior split — the same rows
    both engines derive). Composition equality of the drained-sigs
    path with the batch core is separately pinned by
    tests/test_embedding_dedup.py
    ::test_embedding_sig_core_composes_with_drained_stream; twin
    equality of THIS registered key against the batch key by
    ::test_registered_twin20_equals_batch_key.

    Scale: per microbatch the stream pays exactly the batch key's
    map-side signature cost for the day's vectors; the prior
    signature state is the persisted bucketed table of the batch
    key's story (here rebuilt from the split for the bounded drain).
    Runtime state is zero rows — the only streaming stage is
    stateless — and the drained sig table is the parquet state the
    next snapshot's prior side reads: the production shape.

    The registered form is the lazy tree: it was no slower than
    caching the prior sigs and checkpointing, at sf0.1 and 10×
    (docs/SCALE.md, "Lazy cores")."""
    prior_sig, drained = _inc_embedding_twin_sigs(spark, sf_dir)
    return incremental_embedding_from_sigs(prior_sig.unionByName(drained))


def _inc_embedding_twin_sigs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Twin #20's (static prior sigs, drained new-side sigs)."""
    base = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    prior = base.filter(is_prior_doc(F.col("vec_id")))
    prior_sig = embedding_sigs(prior.withColumn("side", F.lit("p")))

    p = _plant_stream(
        spark,
        "kawa_incemb_plants_",
        prior.filter(F.col("vec_id") < EMB_INC_PLANT_N).select(
            (F.col("vec_id") + F.lit(3000000)).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(1.25)).alias(
                "embedding"
            ),
        ),
    )

    s = stream_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    sn = s.filter(~is_prior_doc(F.col("vec_id")))
    sig_stream = embedding_sigs(
        sn.unionByName(p).withColumn("side", F.lit("n"))
    )
    return prior_sig, _drain_files(sig_stream, spark, "kawa_incemb_sigdrain_")


@register("stream_exec_dedup_incremental_image", oracle=_inc_image_sql())
def stream_exec_dedup_incremental_image(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dedup_incremental_image maintained ONLINE — the twenty-first
    online/offline twin, completing the incremental-dedup family's
    FOURTH modality (digest twin #17, minhash twin #19, embedding
    twin #20, perceptual image hash here): today's document STREAM
    rides the REAL BMP codec round trip + dHash MAP-SIDE (image_hashes
    is a stateless 1:1 Arrow stage, so it maps per microbatch — no
    state store, no ordering contract), the per-DOC hash table is
    drained through the PARQUET sink (volume-scaling drain stays
    executor-side, twin #19's rule), side-tagged, unioned with the
    STATIC prior corpus's hash state, and fed to the same hash-level
    core as the batch key (llm_multimodal.incremental_image_from_
    hashes — combined-population band cap, new×prior pairing, integer
    Hamming verify).

    Oracle = the batch key's SQL verbatim (_inc_image_sql); the new
    -side plants ride the STREAM as a second file source (the beacon
    pattern — a batch-side union is not expressible in a streaming
    query). Registered r16 on the window's single free slot (the
    rotation plan committed in r14; docs/STATUS.md round-14 bank).

    Scale: per microbatch the stream pays exactly the batch key's
    map-side codec+hash cost for the day's documents; the drained
    (doc_id, dhash) parquet IS the state the next snapshot's prior
    side reads (8 bytes + id per image). Runtime state is zero rows.

    The registered form is the lazy tree: the n/p join sides share
    the band-cap window's exchange through AQE reuse, and the tree beat
    caching the prior hashes and bands at sf0.1 and 10× (docs/SCALE.md,
    "Lazy cores").

    kawa parity: none; mandate (M) multimodal + dedup extension."""
    prior_hashed, new_hashed = _inc_image_twin_hashes(spark, sf_dir)
    return incremental_image_from_hashes(prior_hashed.unionByName(new_hashed))


def _inc_image_twin_hashes(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Twin #21's (static prior hashes, drained new-side hashes),
    side-tagged."""
    prior_plants, new_plants = _inc_image_plants()
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") > 0)
    )
    prior_docs = d.filter(is_prior_doc(F.col("doc_id"))).unionByName(
        spark.createDataFrame(prior_plants, "doc_id long, text string")
    )
    prior_hashed = image_hashes(
        prior_docs.select(
            "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
        )
    ).select(
        "doc_id",
        "dhash",
        F.lit("p").alias("side"),
        _dhash_int().alias("dhash_int"),
    )

    ps = _plant_stream(
        spark,
        "kawa_incimg_plants_",
        spark.createDataFrame(new_plants, "doc_id long, text string"),
    )
    s = stream_table(spark, sf_dir, "documents").select("doc_id", "text")
    sn = s.filter(
        (~is_prior_doc(F.col("doc_id"))) & (F.length("text") > 0)
    )
    hash_stream = image_hashes(
        sn.unionByName(ps).select(
            "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
        )
    )
    drained = _drain_files(hash_stream, spark, "kawa_incimg_hashdrain_")
    return prior_hashed, drained.select(
        "doc_id",
        "dhash",
        F.lit("n").alias("side"),
        _dhash_int().alias("dhash_int"),
    )


@register("stream_exec_quantile_sketch", oracle=QUANTILE_SKETCH_SQL)
def stream_exec_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_quantile_sketch maintained ONLINE — the fourteenth
    online/offline twin and a genuinely new state shape: the
    bottom-K rank sample LIVES IN THE STATE STORE (three bounded
    arrays per group, exactly min(K, n) entries at any volume —
    streaming/stateful.py::bottom_k_sample), and each microbatch
    that CHANGES the sample emits it as a sequence-tagged snapshot.
    The read side keeps the highest-seq snapshot per group
    (|types|·K rows) and runs the SHARED estimate core
    (stats.quantile_sketch_scores); the audit half — each estimate's
    true rank over the full population — is the OFFLINE check by
    definition and reads the batch table (a streaming state cannot
    and should not hold the population; the sketch is the online
    artifact, the audit is what you run against it). Oracle = the
    batch key's SQL verbatim (shared QUANTILE_SKETCH_SQL constant).

    NO ordering contract and no late counter: bottom-K is
    merge-idempotent in any arrival order (the exact identity
    test_quantile_sketch_merge_identity proves), unlike the gap
    kernels — so this twin is exact under arbitrary batch splits.

    Scale: state is 3·min(K, n) scalars per group; emissions are at
    most K rows per group per SAMPLE-CHANGING batch (churn-only
    snapshots), and the final selection + scoring runs on |types|·K
    rows."""
    e = stream_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    drained = _drain(bottom_k_sample(e, QSK_K), spark)
    wmax = Window.partitionBy("event_type")
    latest = drained.withColumn(
        "mx", F.max("seq").over(wmax)
    ).filter(F.col("seq") == F.col("mx"))
    sample = latest.select("event_type", "value", "event_id")
    full = table(spark, sf_dir, "events").select("event_type", "value")
    return quantile_sketch_scores(sample, full)


@register("stream_exec_kmv_distinct", oracle=KMV_DISTINCT_SQL)
def stream_exec_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_kmv_distinct maintained ONLINE — the fifteenth twin, and
    the bottom_k_sample kernel's generality proof: a KMV cardinality
    sketch IS a bottom-K sample over value hashes, so pointing the
    SAME kernel at user_id (as the dedup identity; the payload column
    is unused) maintains each group's K smallest distinct-user hashes
    in the state store. Re-observing a user is a no-op by
    construction: a duplicate is either already in the sample
    (deduped by id) or hashes outside it (truncated) — exactly the
    idempotence a distinct sketch needs, with state bounded at
    min(K, n_distinct) entries per group.

    The read side recomputes u = md5-rank in-plan on the final
    snapshot's members (bit-identical to the kernel's hashlib rank)
    and applies the batch estimator verbatim; n_exact/within_tol are
    the OFFLINE audit half (the stream_exec_quantile_sketch
    precedent). Oracle = the batch key's SQL verbatim (shared
    KMV_DISTINCT_SQL constant). Order-insensitive and
    duplicate-idempotent — no ordering contract."""
    e = stream_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("user_id").alias("event_id"),
        F.lit(0.0).alias("value"),
    )
    drained = _drain(bottom_k_sample(e, KMV_K), spark)
    wmax = Window.partitionBy("event_type")
    latest = drained.withColumn(
        "mx", F.max("seq").over(wmax)
    ).filter(F.col("seq") == F.col("mx"))
    sk = (
        latest.select(
            "event_type", F.col("event_id").alias("user_id")
        )
        .withColumn("u", _kmv_u("user_id"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("k_seen"),
            F.max("u").alias("u_k"),
        )
    )
    exact = (
        table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    # shared estimator core — the online twin must never grow its
    # own copy of the (K-1)/u_K formula (code review r10)
    return kmv_scores(sk, exact)


def stream_exec_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal_image_dedup maintained ONLINE — the banked
    twenty-first online/offline twin candidate (docs/STATUS.md
    round-13 bank): the codec round trip + 63-bit dHash run MAP-SIDE
    on the document stream (a stateless Arrow transform per
    microbatch — zero state-store rows, no ordering contract; the
    shared ``image_hashes`` core binds batch and stream identically),
    the per-doc hash table drains through the PARQUET sink
    (volume-scaling drain stays executor-side — the twin-#19 rule),
    and the shared dedup half (``image_dedup_from_hashes``:
    hash-equality groups, min-id keepers, one hash-keyed shuffle)
    runs on the drained table. This is literally the production
    shape: the ingest stream writes the perceptual-hash column, the
    dedup job reads it.

    The planted pair (identical pixels, different byte tails) rides
    the stream as a second file source. Oracle once registered = the
    batch key's ``_image_dedup_sql`` verbatim; until then the twin is
    pinned row-identical to the batch key through the real streaming
    runtime by tests/test_image_dedup.py
    ::test_streaming_twin_equals_batch_key."""
    s = (
        stream_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") > 0)
    )
    ta, tb = _dhash_plant_texts()
    p = _plant_stream(
        spark,
        "kawa_imgdedup_plants_",
        spark.createDataFrame(
            [(-101, ta), (-102, tb)], "doc_id long, text string"
        ),
    )
    docs = s.unionByName(p).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    drained = _drain_files(
        image_hashes(docs), spark, "kawa_imgdedup_drain_"
    )
    return image_dedup_from_hashes(drained)
