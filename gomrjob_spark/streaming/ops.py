"""Streaming operator implementations.

Determinism for the oracle gate: a finite file-replay source +
``processAllAvailable`` + complete/append output is a deterministic
computation, so streaming queries can be differential-tested against the
equivalent batch SQL — a strictly stronger check than the reference had
for its batch jobs.

Scale notes: every aggregation here carries a watermark so state is
bounded (late rows beyond it are dropped, state evicted); at 100 TB the
same topology runs against Kafka with executor-count parallelism, state in
RocksDB, and the memory sink swapped for a real one — the operator
definitions don't change.
"""

from __future__ import annotations

import itertools
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_sink_counter = itertools.count()


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-replay stream of the events table, with the same ``ts``
    handling as the batch catalog (gomrjob_spark.catalog.load_table):
    the file source needs an explicit schema, so take the catalog's
    (memoized) schema of the same file — parquet TIMESTAMP(MICROS)
    arrives as TIMESTAMP/TIMESTAMP_NTZ and passes through;
    TIMESTAMP(NANOS) (which Spark can only read as int64 under
    nanosAsLong) arrives as bigint and is truncated to microseconds,
    matching DuckDB's scan behavior."""
    # the file source requires a directory: point at sf_dir and glob-filter
    # down to the events table; table_schema also sets nanosAsLong
    from gomrjob_spark.catalog import table_schema

    schema = table_schema(spark, sf_dir, "events")
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type == "timestamp_ntz":
        # watermarks demand TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE);
        # the engine session is pinned to UTC (session.get_session), where
        # the NTZ->TIMESTAMP cast is exact and DST-free
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts per event type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("total_cents"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "total_cents",
        )
    )


def sliding_counts(events: DataFrame, window: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    """Sliding-window counts (each event lands in window/slide windows)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", window, slide).alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (gap-merged per user)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("win"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_dedup(events: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Exactly-once event stream: drop duplicate event_ids across
    micro-batches (state-backed). Use
    :func:`streaming_dedup_within_watermark` at scale so dedup state is
    evicted instead of growing with the key space."""
    return events.dropDuplicates(keys or ["event_id"])


def streaming_dedup_within_watermark(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Watermark-bounded streaming dedup: duplicates are only suppressed
    while their key is within the watermark, and state evicts with it.
    This is the 100 TB formulation — unbounded dropDuplicates state on an
    infinite stream eventually holds every key ever seen; this holds only
    the watermark window."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stream_static_join(
    stream: DataFrame,
    static: DataFrame,
    left_on: str,
    right_on: str,
) -> DataFrame:
    """Enrich a stream against a static dimension table: per micro-batch
    broadcast hash join, no streaming state at all (the static side is
    re-broadcast per batch, picking up dimension updates between
    batches). The scale-correct shape for stream-vs-dimension joins —
    a stream-stream join here would hold unbounded state."""
    return stream.join(F.broadcast(static), stream[left_on] == static[right_on])


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time interval join of two streams: rows pair when
    ``left_key = right_key`` and ``right_ts`` falls in
    ``[left_ts, left_ts + within]``.

    Both sides carry watermarks and the join condition bounds event time
    in both directions, so Spark can evict join state once the watermark
    passes — the required shape for an unbounded stream-stream join
    (without the time bound, state grows forever)."""
    l_wm = left.withWatermark(left_ts, watermark)
    r_wm = right.withWatermark(right_ts, watermark)
    cond = (
        (l_wm[left_key] == r_wm[right_key])
        & (r_wm[right_ts] >= l_wm[left_ts])
        & (r_wm[right_ts] <= l_wm[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return l_wm.join(r_wm, cond)


def run_to_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    mode: str = "append",
) -> Any:
    """foreachBatch parquet sink: each micro-batch lands as part files
    under ``path`` (the reference's part-file output dir convention,
    runner.go:137-151, in streaming form).

    foreachBatch is at-least-once — after a mid-batch failure the
    restarted query REPLAYS the batch — so the sink must be idempotent
    per batch id: each batch writes to its own ``batch_id=N`` partition
    directory with overwrite, making a replay rewrite the same
    directory instead of appending duplicates. Readers load ``path``
    normally; partition discovery surfaces ``batch_id`` as an extra
    sink-metadata column (drop it, or use it for incremental reads)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    q = (
        stream_df.writeStream.outputMode(mode)
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    return q


def rewind_last_commit(checkpoint: str) -> int:
    """Failure simulator for at-least-once replay: delete the NEWEST
    commit marker from a stopped query's checkpoint, so a restart finds
    the batch's offsets written but its commit missing and REPLAYS that
    micro-batch — exactly the crash-between-write-and-commit window a
    100 TB ingest must survive. Returns the replayed batch id.

    This is the test/verification harness (local-FS checkpoint dirs);
    production never rewinds by hand — the point is that the idempotent
    per-batch-id overwrite sink (:func:`run_to_parquet`) makes the
    involuntary version of this event a no-op, which
    streaming_replay_idempotent_sink pins under the hash gate."""
    import os

    cdir = os.path.join(checkpoint, "commits")
    ids = sorted(int(f) for f in os.listdir(cdir) if f.isdigit())
    if not ids:
        raise ValueError(f"no commits to rewind in {cdir}")
    os.remove(os.path.join(cdir, str(ids[-1])))
    # Hadoop's ChecksumFileSystem keeps a .N.crc sidecar next to each
    # commit on local FS; the replayed batch's re-commit RENAMES onto
    # the marker path and fails if the stale sidecar survives.
    crc = os.path.join(cdir, f".{ids[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return ids[-1]


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user event count + cents total carried in explicit GroupState —
    the engine's ``arbitrary Reducer over a keyed stream`` parity point
    (the reference's Reducer contract, map_reduce_step.go:11-13, but
    incremental and fault-tolerant)."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(round(pdf["value"].sum() * 100))
        state.update((n, cents))
        yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "total_cents": [cents]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, total_cents bigint",
        stateStructType="n bigint, cents bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(stream_df: DataFrame, mode: str = "complete", name: str | None = None) -> tuple[Any, str]:
    """Drive a finite streaming query to completion synchronously via the
    memory sink; returns (query, table_name). Caller reads
    ``spark.table(name)`` and stops the query."""
    name = name or f"gomrjob_stream_{next(_sink_counter)}"
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    return q, name


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-replay stream of the documents table (schema from the
    catalog, same convention as read_events_stream)."""
    from gomrjob_spark.catalog import table_schema

    schema = table_schema(spark, sf_dir, "documents")
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def read_embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-replay stream of the embeddings table (schema from the
    catalog, same convention as read_events_stream)."""
    from gomrjob_spark.catalog import table_schema

    schema = table_schema(spark, sf_dir, "embeddings")
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )


def semdedup_gate_stream(
    vecs: DataFrame,
    centroids,  # flat (cell, centroid) DataFrame or similarity.SemDedupModel
    survivors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LIVE SemDeDup admission — the streaming twin of
    operators.similarity.semantic_diversity_survivors (Abbas et al.
    2023): each arriving vector is assigned to its nearest trained
    k-means cell SCAN-LOCALLY (ivf_assign's literal/broadcast scoring —
    a pure projection, stream-safe), probes the per-cell SURVIVOR store
    the batch pass produced, and is quarantined when any same-cell
    stored survivor sits at cosine >= ``threshold`` — the semantic gate
    a continuous ingest applies before a vector ever reaches the batch
    dedup. Emits (id, cell, n_same_cell, quarantined).

    The store collapses to ONE row per cell (vector + staged norm
    struct array, bounded by the trainer's target cell size) and joins
    the stream as a per-batch broadcast — LEFT join, because an
    arriving vector can land in a cell whose survivors all fell to the
    batch dedup or that holds no history yet: such vectors take
    n_same_cell = 0 and pass (an inner join would silently DROP them —
    the streaming_dsir_gate lesson). The cosine test is a row-local
    ``exists`` over the cell's array, so the topology is STATELESS:
    batching-invariant, append-mode, per-batch cost flat forever.

    ``centroids`` is either a flat (cell, centroid) frame (scored by
    ivf_assign) or the trained two-level
    :class:`~gomrjob_spark.operators.similarity.SemDedupModel` — the
    r13 hierarchical quantizer: coarse argmax then a within-cell fine
    argmax, O(sqrt(k)) scores per arrival instead of O(k), both stages
    stream-safe (projection + stream-static broadcast equi join)."""
    from gomrjob_spark.operators.similarity import (
        SemDedupModel,
        dot,
        hier_assign,
        ivf_assign,
        l2_norm,
    )

    if isinstance(centroids, SemDedupModel):
        raw = hier_assign(vecs, centroids, id_col, vec_col)
    else:
        raw = ivf_assign(vecs, centroids, 1, id_col, vec_col)
    assigned = raw.select(
        F.col(id_col),
        F.col(vec_col),
        "cell",
        l2_norm(F.col(vec_col)).alias("_nv"),
    )
    store = F.broadcast(
        survivors.select(
            "cell",
            F.struct(
                F.col(vec_col).cast("array<double>").alias("v"),
                l2_norm(F.col(vec_col)).alias("n"),
            ).alias("_s"),
        )
        .groupBy("cell")
        .agg(F.collect_list("_s").alias("_ss"))
    )
    probed = assigned.join(store, "cell", "left_outer")
    arr = F.coalesce(
        F.col("_ss"), F.array().cast("array<struct<v:array<double>,n:double>>")
    )
    return probed.select(
        F.col(id_col),
        F.col("cell"),
        F.size(arr).cast("bigint").alias("n_same_cell"),
        F.exists(
            arr,
            lambda s: dot(F.col(vec_col), s["v"]) / (F.col("_nv") * s["n"])
            >= F.lit(float(threshold)),
        ).alias("quarantined"),
    )


def wordpiece_drift_stream(
    docs: DataFrame,
    vocab: DataFrame,
    max_unk_ppm: int = 100_000,
) -> DataFrame:
    """LIVE tokenizer-drift monitor — the streaming twin of
    operators.text.wordpiece_encode: each arriving document encodes
    ROW-LOCALLY against the offline-trained WordPiece vocabulary (the
    memoize=False greedy fold — no distinct over an unbounded stream;
    the vocab is a 1-row per-batch broadcast with vocabulary-invariant
    generated code) and emits (doc_id, n_words, n_pieces, n_unk,
    unk_ppm, fertility_mppw, drifted): fertility = milli-pieces/word
    (the published tokenizer-quality metric), and ``drifted`` fires
    when the [UNK]-word rate reaches ``max_unk_ppm`` — a spike means
    the ingest's character/script distribution left the tokenizer's
    training distribution, the signal that pages a retrain BEFORE the
    downstream batch counts silently degrade. Stateless: one scan
    projection per batch, no aggregate, flat per-batch cost forever."""
    from gomrjob_spark.operators.text import (
        _wordpiece_vocab_row,
        _wp_greedy_struct,
        normalized,
        tokens,
    )

    vrow = _wordpiece_vocab_row(vocab)
    toked = docs.select(
        "doc_id",
        F.filter(
            F.transform(
                tokens(normalized("text")),
                lambda x: F.replace(x, F.lit("#"), F.lit("")),
            ),
            lambda x: x != "",
        ).alias("_toks"),
    ).filter(F.size("_toks") >= 1)
    segd = toked.join(F.broadcast(vrow)).select(
        "doc_id",
        F.size("_toks").cast("bigint").alias("n_words"),
        F.transform(
            "_toks",
            lambda t: _wp_greedy_struct(t, F.col("_wm"), F.col("_mk")),
        ).alias("_vs"),
    )
    staged = segd.select(
        "doc_id",
        "n_words",
        F.aggregate(
            F.transform("_vs", lambda v: F.size(v["seg"]).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("n_pieces"),
        F.aggregate(
            F.transform(
                "_vs",
                lambda v: F.when(v["unk"], F.lit(1)).otherwise(F.lit(0)).cast(
                    "bigint"
                ),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("n_unk"),
    )
    return staged.select(
        "doc_id",
        "n_words",
        "n_pieces",
        "n_unk",
        F.expr("(1000000 * n_unk) DIV n_words").cast("bigint").alias("unk_ppm"),
        F.expr("(1000 * n_pieces) DIV n_words").cast("bigint").alias(
            "fertility_mppw"
        ),
        (
            F.expr("(1000000 * n_unk) DIV n_words") >= F.lit(int(max_unk_ppm))
        ).alias("drifted"),
    )


def incremental_dedup_stream(
    docs: DataFrame, known_fps: DataFrame, dedup_window: str = "1 hour"
) -> DataFrame:
    """Continuous-ingestion exact dedup as a LIVE topology: the streaming
    twin of operators.dedup.incremental_dedup. Each arriving document is
    fingerprinted, dropped if its fingerprint is already in the (static,
    per-batch re-broadcast) corpus store, and dropped again if an earlier
    streamed document already carried it (dropDuplicates state). Emits
    the admitted fingerprints.

    The survivor SET is deterministic (a pure function of the store and
    the replayed corpus) even though which doc arrives first per
    fingerprint is not — so the query surface returns fps, not doc ids.

    Scale: the store probe is a per-batch broadcast (dimension-table
    pattern); dedup state is one fp per admitted document — BOUNDED:
    the topology watermarks an ingestion-time column and dedups with
    ``dropDuplicatesWithinWatermark``, so state for a fingerprint is
    evicted once the watermark passes it (``dedup_window``; a bare
    dropDuplicates would grow one state row per admitted fp forever —
    unbounded on a continuous 100 TB ingest). Duplicates farther apart
    than the window are caught by the store probe on the next batch
    boundary, which is the store's job, not the stream state's. The
    admitted-fp SET over a finite replay is unchanged (all rows land
    within one window), so the oracle row is identical. Production
    posture: pair with the RocksDB state store provider
    (see session.get_session docstring)."""
    from gomrjob_spark.operators.dedup import fingerprint

    fps = docs.select(fingerprint(F.col("text")).alias("fp"))
    store = F.broadcast(known_fps.select(F.col("fp").alias("_known")))
    # stream-static anti join, phrased as left-outer + IS NULL (the
    # universally supported stream-static shape)
    fresh = (
        fps.join(store, fps["fp"] == store["_known"], "left_outer")
        .filter(F.col("_known").isNull())
        .select("fp")
    )
    return (
        fresh.withColumn("_ingest_ts", F.current_timestamp())
        .withWatermark("_ingest_ts", dedup_window)
        .dropDuplicatesWithinWatermark(["fp"])
        .select("fp")
    )


def _minhash_sig_frame(
    frame: DataFrame,
    ident: str,
    out_id: str,
    side: str,
    num_hashes: int,
    n: int,
    seed: int,
) -> DataFrame:
    """(id, shingle array, minhash signature) — one row per document,
    everything row-local array expressions (no aggregation)."""
    from gomrjob_spark.operators.dedup import (
        minhash_base_expr,
        minhash_signature_expr,
        shingle_array,
    )

    return (
        frame.select(F.col(ident).alias(out_id), shingle_array("text", n).alias("_sh"))
        .select(out_id, "_sh", minhash_base_expr("_sh").alias("_base"))
        .select(
            out_id,
            F.col("_sh").alias(f"_sh_{side}"),
            minhash_signature_expr("_base", num_hashes, seed).alias(f"_sig_{side}"),
        )
    )


def _band_entries(sig_col: str, bands: int, rows: int) -> list:
    return [
        F.struct(
            F.lit(b).alias("band"),
            *[
                F.element_at(F.col(sig_col), b * rows + r + 1).alias(f"v{r}")
                for r in range(rows)
            ],
        )
        for b in range(bands)
    ]


def _near_dup_store_build(
    store_docs: DataFrame,
    num_hashes: int,
    bands: int,
    n: int,
    seed: int,
    id_col: str,
    store_id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Raw (un-persisted) store derivation shared by the in-memory and
    written forms: the payload frame (store_id, shingles, signature) and
    the ids-only banded frame (store_id, band, v0..v_rows)."""
    rows = num_hashes // bands
    store_payload = _minhash_sig_frame(
        store_docs, id_col, store_id_col, "b", num_hashes, n, seed
    )
    store_banded = store_payload.select(
        store_id_col,
        F.explode(F.array(*_band_entries("_sig_b", bands, rows))).alias("bk"),
    ).select(store_id_col, "bk.*")
    return store_payload, store_banded


def near_dup_store_frames(
    store_docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 16,
    n: int = 3,
    seed: int = 42,
    id_col: str = "doc_id",
    store_id_col: str = "store_id",
) -> tuple[DataFrame, DataFrame]:
    """The static side of near_dup_probe_stream, built once and persisted
    (scoped): a one-row-per-document payload frame (store_id, shingles,
    signature) for candidate verification, and an ids-only banded frame
    (store_id, band, v0..v_rows) for the probe join. The banded frame
    carries NO shingle/signature arrays — at a 100 TB store the ×bands
    explode must not multiply the shingle volume (r4 verdict #2's fix;
    pinned by tests/test_streaming.py). For a production store, derive
    ONCE offline with :func:`near_dup_store_write` and load with
    :func:`near_dup_store_load` — same frames, no per-restart
    re-derivation."""
    from gomrjob_spark.cache import scoped_persist

    store_payload, store_banded = _near_dup_store_build(
        store_docs, num_hashes, bands, n, seed, id_col, store_id_col
    )
    return scoped_persist(store_payload), scoped_persist(store_banded)


def near_dup_store_write(
    store_docs: DataFrame,
    path: str,
    num_hashes: int = 32,
    bands: int = 16,
    n: int = 3,
    seed: int = 42,
    id_col: str = "doc_id",
    store_id_col: str = "store_id",
) -> None:
    """Derive the near-dup reference store OFFLINE and write it as two
    datasets: ``<path>/payload`` (one row per store document:
    store_id, shingle array, signature) and ``<path>/banded`` (ids-only
    band rows, hive-partitioned by ``band``). This is the production
    form of the probe's static side: the shingle → md5 base-hash →
    signature → band-key derivation runs once in a batch job; every
    stream (re)start then READS the store instead of re-deriving a
    100 TB corpus' signatures. Partitioning the banded dataset by band
    matches its access pattern (band-scoped scans/compactions touch one
    directory; at most ``bands`` directories, never a small-files
    explosion); bucketing by the (band, v*) join key via
    operators.bucketing.write_bucketed is the further step when the
    probe join's store-side exchange itself must be pre-paid."""
    from gomrjob_spark.sources.tables import write_partitioned

    store_payload, store_banded = _near_dup_store_build(
        store_docs, num_hashes, bands, n, seed, id_col, store_id_col
    )
    store_payload.write.mode("overwrite").parquet(path.rstrip("/") + "/payload")
    write_partitioned(store_banded, path.rstrip("/") + "/banded", ["band"])


def near_dup_store_load(
    spark, path: str
) -> tuple[DataFrame, DataFrame]:
    """Load a store written by :func:`near_dup_store_write`, persisted
    (scoped) so every micro-batch probes the cache. The band partition
    column comes back via partition discovery; it is cast to int to
    match the stream side's band-key type."""
    from gomrjob_spark.cache import scoped_persist

    payload = spark.read.parquet(path.rstrip("/") + "/payload")
    banded = spark.read.parquet(path.rstrip("/") + "/banded").withColumn(
        "band", F.col("band").cast("int")
    )
    return scoped_persist(payload), scoped_persist(banded)


def near_dup_probe_stream(
    docs: DataFrame,
    store_docs: DataFrame | None,
    threshold: float = 0.6,
    num_hashes: int = 32,
    bands: int = 16,
    n: int = 3,
    seed: int = 42,
    id_col: str = "doc_id",
    store_id_col: str = "store_id",
    store_frames: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Streaming NEAR-dup admission: MinHash-band each arriving document
    ROW-LOCALLY (shingle array -> md5 base hashes -> signature via array
    folds — no aggregation, so the stream stays stateless) and probe a
    static reference corpus banded the same way; band collisions verify
    with exact Jaccard computed from the two carried shingle arrays
    (array_intersect/array_union — again row-local). Emits
    (doc_id, store_id, jaccard >= threshold) pairs.

    This is the fuzzy twin of incremental_dedup_stream: that topology
    rejects EXACT re-crawls against the fingerprint store; this one
    catches boilerplate/near-duplicates of the existing corpus at
    ingestion time, before they enter training data.

    Scale shape (store side reworked r5 per the r4 verdict): the banded
    STORE frame carries (store_id, band, v0..v_rows) ONLY — never the
    store's shingle arrays, which at a 100 TB reference corpus would
    otherwise ride the ×bands explode as 16× the corpus's shingle
    volume per micro-batch. Both store frames are persisted via
    scoped_persist, so the static plan materializes once and every
    micro-batch probes the cache instead of re-deriving signatures. For
    production, derive the store fully OFFLINE with
    :func:`near_dup_store_write` and pass the loaded frames via
    ``store_frames`` — the registered streaming_near_dup_probe query
    runs this written-store topology (r6).
    Verification data arrives through a SECOND stream-static equi-join
    on store_id — candidates only, so the store's shingles move for the
    (tiny) matched set, not for every banded row.

    The stream side stays fully row-local/stateless: shingles, base
    hashes and the signature are array expressions per document, so
    per-batch cost is flat forever and the output is a pure function of
    (stream content, store) — deterministic under any micro-batching,
    which is what lets the full topology sit under the DuckDB oracle
    gate. A pair colliding in several bands is kept exactly once by the
    first-shared-band filter over the two signatures (the map-side
    dedup trick shared with the batch path) — evaluated after the
    candidate join, stateless, so no dropDuplicates state grows with
    the stream."""
    from pyspark.sql import Column

    rows = num_hashes // bands
    keys = ["band"] + [f"v{r}" for r in range(rows)]

    if store_frames is not None:
        # offline store: pre-derived by near_dup_store_write, loaded
        # from disk (near_dup_store_load) — no per-(re)start derivation
        store_payload, store_banded = store_frames
    else:
        store_payload, store_banded = near_dup_store_frames(
            store_docs,
            num_hashes=num_hashes,
            bands=bands,
            n=n,
            seed=seed,
            id_col=id_col,
            store_id_col=store_id_col,
        )

    # stream: row-local signature, shingles + signature carried through
    # the explode (a micro-batch is small; statelessness is the point)
    stream_banded = (
        _minhash_sig_frame(docs, id_col, id_col, "a", num_hashes, n, seed)
        .select(
            id_col,
            "_sh_a",
            "_sig_a",
            F.explode(F.array(*_band_entries("_sig_a", bands, rows))).alias("bk"),
        )
        .select(id_col, "_sh_a", "_sig_a", "bk.*")
    )

    first: Column = F.lit(None).cast("int")
    for t in range(bands - 1, -1, -1):
        first = F.when(
            F.slice(F.col("_sig_a"), t * rows + 1, rows)
            == F.slice(F.col("_sig_b"), t * rows + 1, rows),
            F.lit(t),
        ).otherwise(first)

    candidates = stream_banded.join(store_banded, keys)
    verified = (
        candidates.join(store_payload, store_id_col)
        .filter(first == F.col("band"))
    )
    inter = F.size(F.array_intersect(F.col("_sh_a"), F.col("_sh_b")))
    union = F.size(F.array_union(F.col("_sh_a"), F.col("_sh_b")))
    return (
        verified.select(
            id_col,
            store_id_col,
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def search_score_stream(
    docs: DataFrame,
    store_docs: DataFrame,
    query_terms: list[tuple[int, str]],
    text_col: str = "text",
) -> DataFrame:
    """Live retrieval scoring: tag each ARRIVING document with the
    queries it matches, scored by the same fixed-point BM25 as
    operators.search.search_bm25_topk — but with the index model (N,
    avgdl, per-term idf) frozen from the STATIC reference corpus and
    baked into row-local column expressions at plan-construction time.

    That freezing is the point: scoring a stream against corpus-global
    statistics would otherwise need a streaming aggregation (state,
    watermarks, and an answer that changes as the stream runs). With the
    store model fixed, every score is a pure function of the arriving
    row — stateless, batching-invariant, and oracle-checkable. The
    driver reads |query terms| df values + one stats row from the store
    (bounded, same class as the CC convergence read); a production
    refresh re-derives the model offline and redeploys the query.

    Emits (doc_id, query_id, score > 0) in append mode. The per-term
    term frequency is ``size(filter(tokens, t -> t = term))`` — the
    query set is a plan-time literal, so the whole scoring matrix
    unrolls into codegen'd expressions, no explode, no join, no state.
    """
    dl_expr = F.size(F.filter(F.split(F.col(text_col), " "), lambda t: t != ""))
    row = (
        store_docs.select(
            F.count("*").alias("n"), F.sum(dl_expr).alias("tot")
        ).collect()
    )[0]
    n_docs, avgdl_x100 = int(row["n"]), (100 * int(row["tot"])) // int(row["n"])

    terms = sorted({t for _, t in query_terms})
    df_rows = (
        store_docs.select(
            "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("term")
        )
        .filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.count_distinct("doc_id").alias("df"))
        .collect()
    )
    df_map = {r["term"]: int(r["df"]) for r in df_rows}
    idf_bits = {t: (n_docs // max(df_map.get(t, 0), 1)).bit_length() for t in terms}

    out = docs.withColumn("_dl", dl_expr).withColumn(
        "_toks", F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    )
    qids = sorted({qid for qid, _ in query_terms})
    score_cols = []
    for qid in qids:
        parts = []
        for t in (t for q, t in query_terms if q == qid):
            # terms are caller data, not trusted SQL — escape before
            # interpolating into the expression text (a quote or
            # backslash in a term must stay a literal character, not
            # break plan parsing or alter the comparison)
            lit = t.replace("\\", "\\\\").replace("'", "\\'")
            tf = f"size(filter(_toks, x -> x = '{lit}'))"
            parts.append(
                f"({idf_bits[t]} * ((22000 * {tf}) DIV "
                f"(10 * {tf} + (12 * (25 + (7500 * _dl) DIV {avgdl_x100})) DIV 10)))"
            )
        score_cols.append(F.expr(" + ".join(parts)).cast("long").alias(f"_s{qid}"))
    out = out.select("doc_id", *score_cols)
    stack = ", ".join(f"{qid}, _s{qid}" for qid in qids)
    return (
        out.selectExpr(
            "doc_id",
            f"stack({len(qids)}, {stack}) as (query_id, score)",
        )
        .select("doc_id", F.col("query_id").cast("int").alias("query_id"), "score")
        .filter(F.col("score") > 0)
    )


def upsert_sink(
    stream_df: DataFrame,
    path: str,
    key_cols: list[str],
    keep_latest_by: list[str],
    checkpoint: str,
    fmt: str = "parquet",
):
    """Streaming CDC apply: maintain a keyed plain-file dataset as the
    stream's materialized CURRENT STATE. Each micro-batch reduces to
    its per-key latest row (row_number over ``keep_latest_by`` desc —
    merge_upsert requires key-unique updates), then merges via
    ``merge_upsert(keep_latest_by=...)``: last-writer-wins against the
    STORED row too, so the final table is a pure function of stream
    CONTENT — invariant to micro-batch boundaries AND arrival order (a
    late batch carrying an older version never clobbers a newer stored
    row), which is what puts the whole live topology under the DuckDB
    hash gate. foreachBatch is at-least-once; LWW merge is idempotent
    under replay (re-merging the same rows ties on the ordering tuple
    and rewrites identical content), so replays are safe. Drains with
    trigger(availableNow) and returns the finished query handle.

    Scale: per batch, the write amplification is merge_upsert's — the
    base dataset rewrites (or, partitioned + partition-stable keys,
    only touched directories); batch cadence should be sized so the
    rewrite amortizes, exactly as with any copy-on-write MERGE sink."""
    from pyspark.sql import Window as W

    from gomrjob_spark.sources.tables import merge_upsert

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        w = W.partitionBy(*key_cols).orderBy(
            *[F.col(c).desc() for c in keep_latest_by]
        )
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        merge_upsert(
            batch_df.sparkSession,
            path,
            latest,
            key_cols,
            fmt=fmt,
            keep_latest_by=keep_latest_by,
        )

    q = (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    return q


def outlier_flag_stream(
    stream_events: DataFrame,
    store_events: DataFrame,
    z_num: int = 3,
) -> DataFrame:
    """LIVE data-quality gating: arriving events are flagged when their
    value lies more than ``z_num`` population standard deviations from
    their event-type's mean — with the moments (n, S=sum c, Q=sum c^2)
    frozen from the static store and the z-test squared into the exact
    integer form ``(n*c - S)^2 > z^2 (n*Q - S^2)`` (DECIMAL(38,0)
    products; see operators.sampling.zscore_outlier_counts for the
    bigint-overflow rationale). The model joins in as a stream-static
    broadcast on event_type and the test is row-local, so the topology
    is stateless, batching-invariant, and a pure function of (stream,
    store) — the streaming twin of the batch events_outlier_audit, and
    the live form of a curation pipeline's outlier quarantine."""
    c = F.round(F.col("value") * 100, 0).cast("bigint")
    stats = (
        store_events.select("event_type", c.alias("_c"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_c").alias("_s"),
            F.sum(F.col("_c") * F.col("_c")).alias("_q"),
        )
    )
    d = "decimal(38,0)"
    staged = stream_events.withColumn("_c", c).join(
        F.broadcast(stats), "event_type"
    )
    lhs_root = F.col("_n").cast(d) * F.col("_c").cast(d) - F.col("_s").cast(d)
    rhs = F.lit(z_num * z_num).cast(d) * (
        F.col("_n").cast(d) * F.col("_q").cast(d)
        - F.col("_s").cast(d) * F.col("_s").cast(d)
    )
    return staged.select(
        "event_id", "event_type", (lhs_root * lhs_root > rhs).alias("is_outlier")
    )


def paragraph_quarantine_stream(
    docs: DataFrame, known_par_fps: DataFrame, drop_ppm: int = 300_000
) -> DataFrame:
    """Continuous-ingestion PARAGRAPH-containment admission — the
    streaming twin of operators.dedup.paragraph_containment: each
    arriving document is chunked into 256-char paragraphs row-locally
    (pure column expressions, stream-safe), every paragraph probes the
    static corpus fingerprint store (per-batch broadcast, the
    dimension-table pattern), and the per-document rollup emits
    (doc_id, n_par, n_contained, contained_ppm, quarantined) — the
    admission decision a live ingest makes before a document ever
    reaches the batch dedup passes.

    State: one aggregate row per streamed document (all of a doc's
    paragraphs arrive in its file batch, so rows retire as soon as the
    sink sees them; a production deployment keys the same rollup by
    (ingest window, doc) under a watermark to bound state on an
    endless feed — the tumbling_counts posture). The store probe
    shuffles nothing: fingerprints are computed in the scan projection
    and the join side is broadcast."""
    from gomrjob_spark.operators.text import chunk_text

    chunks = chunk_text(docs, size=256, overlap=0).select(
        "doc_id", F.md5(F.col("chunk")).alias("fp")
    )
    # distinct INSIDE the operator: a store with duplicate fingerprints
    # would multiply probe rows through the left join (inflating both
    # n_par and n_contained) — don't rely on every caller deduping
    store = F.broadcast(
        known_par_fps.select(F.col("fp").alias("_known")).distinct()
    )
    probed = chunks.join(
        store, chunks["fp"] == store["_known"], "left_outer"
    ).select("doc_id", F.col("_known").isNotNull().alias("_hit"))
    return (
        probed.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_par"),
            F.sum(F.when(F.col("_hit"), 1).otherwise(0)).cast("bigint").alias(
                "n_contained"
            ),
        )
        .select(
            "doc_id",
            "n_par",
            "n_contained",
            F.expr("(1000000 * n_contained) DIV n_par").cast("bigint").alias(
                "contained_ppm"
            ),
            (
                F.expr("(1000000 * n_contained) DIV n_par") >= F.lit(drop_ppm)
            ).alias("quarantined"),
        )
    )


def langid_gate_stream(
    docs: DataFrame,
    model_row: DataFrame,
    n: int = 2,
    allowed: tuple[str, ...] = ("en",),
) -> DataFrame:
    """Live language-ID admission — the streaming twin of
    text_langid_gate and the online half of the FIRST gate every
    production curation pipeline runs (CCNet/RedPajama/Dolma
    language-filter before any dedup): the char-n-gram NB model
    trains OFFLINE on the batch side
    (operators.text.langid_model — the dsir_weights /
    semdedup-model deployment split), and every arriving document
    scores ROW-LOCALLY against the per-batch 1-row broadcast (gram ->
    language-aligned weight arrays, one zip_with fold per doc),
    emitting (doc_id, lang, pred_lang, n_grams, score, keep).

    Stateless scan projection — no aggregation, no watermark, no
    state store: per-batch cost is flat forever and verdicts are
    batching-invariant (each document's score depends only on its own
    text and the frozen model), which is exactly why a language gate
    can sit at the very front of an unbounded ingest."""
    from gomrjob_spark.cache import scoped_persist
    from gomrjob_spark.operators.text import langid_apply

    # persist the model ONCE: the 1-row frame is re-read every
    # micro-batch (the dimension-table pattern)
    row = scoped_persist(model_row)
    return langid_apply(docs, row, n=n, allowed=allowed, fan_out=False)


def kn_gate_stream(
    docs: DataFrame,
    model: dict,
    max_mbits: int = 5200,
) -> DataFrame:
    """Live Kneser-Ney perplexity admission — the streaming twin of
    text_kn_perplexity and EXACTLY how CCNet deploys its LM filter on a
    continuous ingest: the modified-KN trigram model trains OFFLINE on
    the batch side (operators.text.kn_model — the dsir/langid/semdedup
    deployment split), and each arriving document's trigram stream
    joins the five vocab-sized STATIC model tables per micro-batch
    (stream-static equi joins — re-read like any dimension table; the
    model tables are scoped-persisted once here, the dimension-table
    pattern) and rolls up to (doc_id, n_trigrams, total_bits,
    mbits_per_trigram, admitted) with a CONSTANT serving threshold
    (chosen offline from the batch percentile — the dsir_gate_stream
    rule: a live stream has no stable corpus percentile to rank
    against).

    Unlike the 1-row-broadcast gates, this model is vocabulary-sized —
    at web scale the trigram table outgrows a broadcast, so the
    stream-static JOIN (not a broadcast fold) is the only shape that
    survives; the aggregate keys on doc_id, whose rows retire with
    their file batch (the paragraph-quarantine state posture)."""
    from gomrjob_spark.cache import scoped_persist
    from gomrjob_spark.operators.text import kn_score

    persisted = {k: scoped_persist(v) for k, v in model.items()}
    scored = kn_score(docs, persisted)
    return scored.select(
        "doc_id",
        "n_trigrams",
        "total_bits",
        "mbits_per_trigram",
        (F.col("mbits_per_trigram") < F.lit(max_mbits)).alias("admitted"),
    )


def quality_gate_stream(
    docs: DataFrame,
    last_row: DataFrame,
) -> DataFrame:
    """Live TRAINED-quality-classifier admission — the streaming twin
    of quality_perceptron_gate, deployed exactly how a distilled
    quality model serves in production: the perceptron trains OFFLINE
    on the batch side (operators.text.quality_perceptron_train — the
    dsir/langid/semdedup deployment split), the FINAL weight row
    broadcasts per micro-batch (1 row — the smallest model in the gate
    family after the URL gate's zero), and each arriving document
    scores as a stateless scan projection
    (operators.text.perceptron_score — the identical column program as
    the batch gate, so stream==batch equivalence is structural).
    Append-mode, no state, flat per-batch cost, batching-invariant
    verdicts."""
    from gomrjob_spark.cache import scoped_persist
    from gomrjob_spark.operators.text import perceptron_score

    return perceptron_score(docs, scoped_persist(last_row))


def html_gate_stream(
    docs: DataFrame,
    min_ppm: int = 500_000,
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """Live HTML main-content admission — the streaming twin of
    html_content_gate and the gate that runs directly on the WARC
    payload stream (position ONE of a crawl ingest, right after the
    URL gate's position zero): each arriving page is segmented into
    blocks, scored, and rolled up ROW-LOCALLY with array higher-order
    functions (operators.html.block_structs + doc_content_summary —
    the identical column program as the batch gate, so stream==batch
    equivalence is structural), and pages whose chrome outweighs
    their prose are dropped before any text operator sees them.

    Stateless scan projection — no model, no store, no state (the
    url_gate_stream posture: only plan literals ship): per-batch cost
    is flat forever and verdicts are batching-invariant. Downstream
    composition is the production pipeline order: this gate's
    main_text column is exactly what langid_gate_stream /
    kn_gate_stream / quality_gate_stream consume."""
    from gomrjob_spark.operators.html import (
        content_gate,
        doc_content_summary,
        with_blocks,
    )

    staged = content_gate(
        doc_content_summary(with_blocks(docs, html_col=html_col)),
        min_ppm=min_ppm,
    )
    return staged.select(
        id_col,
        "n_blocks",
        "n_content_blocks",
        "content_ppm",
        "main_text",
        "admitted",
    )


def mime_gate_stream(
    docs: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Live MIME admission — the binary layer's position-zero gate on
    a continuous ingest: each arriving payload's magic bytes sniff
    ROW-LOCALLY (operators.mime.sniff — the identical column program
    as the batch sniff table, so stream==batch equivalence is
    structural), and undecodable blobs (no known magic) drop before
    the decode families ever see them. Stateless and model-free (the
    url_gate posture): flat per-batch cost, batching-invariant
    verdicts."""
    from gomrjob_spark.operators.mime import MIME_UNKNOWN, sniff

    staged = docs.withColumn("_s", sniff(F.col(payload_col)))
    return staged.select(
        id_col,
        F.col("_s.mime").alias("mime"),
        (F.col("_s.mime") != MIME_UNKNOWN).alias("admitted"),
    )


def charset_gate_stream(
    docs: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Live charset admission — the decode-routing gate on a
    continuous text ingest (CCNet drops undecodable documents at the
    door): full RFC 3629 well-formedness as one codegen'd hex-regex
    per arriving payload (operators.mime.charset_label — the batch
    gate's exact program). Stateless, model-free, flat per batch."""
    from gomrjob_spark.operators.mime import charset_label

    # staging, not CSE-hoping: the label is a full hex()+rlike pass,
    # referenced twice below
    staged = docs.withColumn("charset", charset_label(F.col(payload_col)))
    return staged.select(
        id_col,
        F.octet_length(payload_col).cast("bigint").alias("n_bytes"),
        "charset",
        (F.col("charset") != "binary").alias("is_text"),
    )


def robots_gate_stream(
    docs: DataFrame,
    url_col: str = "norm_url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Live robots.txt admission — position MINUS ONE on the crawl
    frontier stream: each arriving URL's domain rules synthesize +
    parse row-locally and the RFC 9309 longest-match verdict emits
    (operators.robots — the batch gate's exact program: parse_rules +
    robots_verdict). In production the per-domain robots text arrives
    as a slowly-changing dimension (the stream-static join pattern of
    kn_gate_stream); here it derives from the domain formula, so the
    topology stays stateless and the full hash gate covers the live
    path. Expects the URL-staged stream (norm_url +
    registered_domain columns, urls.with_url_columns)."""
    from gomrjob_spark.operators.robots import synth_verdict

    staged = docs.select(
        id_col,
        "registered_domain",
        F.regexp_extract(
            F.col(url_col), "^[a-z]+://[^/?#]+([^?#]*)", 1
        ).alias("path"),
        F.regexp_extract(F.col("registered_domain"), "site([0-9]+)", 1)
        .cast("bigint")
        .alias("k"),
    )
    verdict = synth_verdict("path", "k")
    return staged.select(
        id_col,
        "registered_domain",
        "path",
        verdict["rule_prefix"].alias("rule_prefix"),
        verdict["allowed"].alias("allowed"),
    )


def url_gate_stream(
    docs: DataFrame,
    blocklist: list[str],
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Live URL/domain admission — the streaming twin of
    url_domain_gate and the operator that sits at position ZERO of a
    crawl ingest (CCNet/RefinedWeb/Dolma all gate on the URL before
    the document body is even parsed): each arriving record's URL is
    canonicalized row-locally (operators.urls.url_normalize — the full
    6-rule contract as one codegen'd column program), its registered
    domain extracted, and the blocklist verdict emitted as
    (doc_id, norm_url, registered_domain, blocked, admitted).

    Stateless scan projection — no model, no store, no state: the
    strongest posture in the gate family (even langid carries a
    broadcast model; this carries only plan literals), so per-batch
    cost is flat forever, verdicts are batching-invariant, and the
    topology backpressures at exactly the source read rate. URL-level
    DEDUP on the live path composes with the existing machinery:
    ``streaming_dedup_within_watermark(gated, keys=["norm_url"])``
    downstream of this gate is the watermarked variant, and the exact
    batch dedup (plans.web.dedup_url_exact) reconciles offline."""
    from gomrjob_spark.operators.urls import domain_gate

    return domain_gate(docs, blocklist, url_col=url_col, id_col=id_col)


def bloom_dedup_gate_stream(
    docs: DataFrame,
    known_par_fps: DataFrame,
    num_bits: int = 1 << 17,
    num_hashes: int = 3,
    seed: int = 42,
    drop_ppm: int = 300_000,
) -> DataFrame:
    """Bloom-filter dedup ADMISSION gate (the Dolma BFF deduper's
    shape, Soldaini et al. 2024 §2.2 — a fixed-size bit array standing
    in for the unbounded paragraph store at the ingest door; Bloom
    1970 is the construction): each arriving document chunks into
    256-char paragraphs row-locally, every paragraph's md5 fingerprint
    probes the bit array built OFFLINE from the corpus store
    (operators.bloomfilter.bloom_build — the broadcast is num_bits/8
    bytes REGARDLESS of store size, which is the whole point at
    100 TB), and only bloom HITS — dups plus the ~FPP sliver of new
    paragraphs — take the exact store join that removes false
    positives. Bloom MISSES are DEFINITELY-new (no false negatives by
    construction) and bypass the store entirely. The emitted verdicts
    are therefore EXACTLY the plain anti-join truth — the full hash
    gate holds — while the plan pays the store join only for the
    probable-dup trickle. Returns the per-document rollup
    (doc_id, n_par, n_dup, dup_ppm, admitted): admitted =
    dup_ppm < ``drop_ppm``.

    State: none beyond the per-doc rollup (the
    paragraph_quarantine_stream posture — rows retire with their file
    batch; an endless feed keys the same rollup under a watermark). A
    production BFF also INSERTS admitted fingerprints back into the
    array; that read-write cycle needs an out-of-plan filter service,
    so this operator models the (rebuild filter offline) -> (gate the
    stream) deployment — the same split dsir_gate_stream uses for its
    weight table."""
    from gomrjob_spark.cache import scoped_persist
    from gomrjob_spark.operators.bloomfilter import (
        bloom_build,
        bloom_might_contain,
    )
    from gomrjob_spark.operators.text import chunk_text

    chunks = chunk_text(docs, size=256, overlap=0).select(
        "doc_id", F.md5(F.col("chunk")).alias("fp")
    )
    # distinct + persist the static side ONCE: the store and its bloom
    # array are re-read every micro-batch (the dimension-table pattern)
    store = scoped_persist(known_par_fps.select("fp").distinct())
    flt = scoped_persist(bloom_build(store, "fp", num_bits, num_hashes, seed))
    probed = chunks.join(F.broadcast(flt)).select(
        "doc_id",
        "fp",
        bloom_might_contain(
            F.col("fp"), F.col("arr"), num_bits, num_hashes, seed
        ).alias("_maybe"),
    )
    certain_new = probed.filter(~F.col("_maybe")).select(
        "doc_id", F.lit(False).alias("_dup")
    )
    # The exact false-positive-removal join keys on the CORPUS-SIZED
    # store — only the 16 KiB bloom array `flt` may be broadcast; pin
    # shuffle_hash so the store is never an exchange build side (the
    # sampling.softdedup rule: a one-row-per-paragraph frame OOMs a
    # broadcast at deployment scale; shuffled-hash is the only join
    # shape that exists at 100 TB, and only bloom HITS reach it).
    checked = (
        probed.filter(F.col("_maybe"))
        .join(
            store.select(F.col("fp").alias("_known")).hint("shuffle_hash"),
            F.col("fp") == F.col("_known"),
            "left_outer",
        )
        .select("doc_id", F.col("_known").isNotNull().alias("_dup"))
    )
    return (
        certain_new.unionByName(checked)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_par"),
            F.sum(F.when(F.col("_dup"), 1).otherwise(0)).cast("bigint").alias(
                "n_dup"
            ),
        )
        .select(
            "doc_id",
            "n_par",
            "n_dup",
            F.expr("(1000000 * n_dup) DIV n_par").cast("bigint").alias("dup_ppm"),
            (F.expr("(1000000 * n_dup) DIV n_par") < F.lit(drop_ppm)).alias(
                "admitted"
            ),
        )
    )


def dsir_gate_stream(
    docs: DataFrame,
    weights: DataFrame,
    n_buckets: int = 4096,
    min_mbits: int = 0,
    salt: str = "dsir",
) -> DataFrame:
    """Live DSIR importance gating — the streaming twin of
    operators.sampling.dsir_importance: each arriving document's hashed
    unigram+bigram features look up the PRE-TRAINED bucket-weight table
    (a fixed ``n_buckets``-row model, per-batch broadcast, zero state),
    and the per-doc rollup emits (doc_id, n_feats, imp_mbits, admitted)
    — the target-likeness gate a continuous ingest applies at the door
    with a model trained offline on the batch side (exactly how DSIR
    deploys: weights come from a reference corpus, scoring is
    stateless per document).

    ``min_mbits`` is the admission threshold — a CONSTANT at serving
    time (chosen offline from the batch percentile), because a live
    stream has no stable corpus percentile to rank against. Feature
    hashing happens in the scan projection; the only aggregate keys on
    doc_id, whose rows retire with their file batch (the
    paragraph_quarantine_stream state posture)."""
    from gomrjob_spark.operators.sampling import hash_bucket
    from gomrjob_spark.operators.text import normalized, tokens

    staged = docs.select(
        "doc_id",
        F.filter(tokens(normalized("text")), lambda x: x != "").alias("_toks"),
    ).filter(F.size("_toks") >= 1)
    uni = staged.select("doc_id", F.explode("_toks").alias("_f"))
    idx = F.when(
        F.size("_toks") >= 2, F.sequence(F.lit(1), F.size("_toks") - 1)
    ).otherwise(F.array().cast("array<int>"))
    bi = staged.select("doc_id", F.explode(idx).alias("_i"), "_toks").select(
        "doc_id",
        F.concat(
            F.element_at("_toks", F.col("_i")),
            F.lit(" "),
            F.element_at("_toks", F.col("_i") + 1),
        ).alias("_f"),
    )
    feats = uni.unionByName(bi).select(
        "doc_id", hash_bucket(F.col("_f"), n_buckets, salt).alias("_b")
    )
    w = F.broadcast(weights.select(F.col("_b"), F.col("_w")))
    # LEFT join: a live feature can hash into a bucket the offline
    # training never saw — it takes the smoothed-default weight
    # bitlen((0+1)*2^20 DIV (0+1)) = 21 bits, exactly what the batch
    # trainer would have assigned an empty bucket
    return (
        feats.join(w, "_b", "left_outer")
        .withColumn("_w", F.coalesce(F.col("_w"), F.lit(21).cast("bigint")))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            F.sum("_w").cast("bigint").alias("_tw"),
        )
        .select(
            "doc_id",
            "n_feats",
            F.expr("(1000 * _tw) DIV n_feats").cast("bigint").alias("imp_mbits"),
            (
                F.expr("(1000 * _tw) DIV n_feats") >= F.lit(int(min_mbits))
            ).alias("admitted"),
        )
    )
