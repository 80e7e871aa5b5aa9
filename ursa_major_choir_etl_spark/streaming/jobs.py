"""Streaming jobs on readStream sources: the store sinks behind the
registry's streaming queries (q283, q289-q297).

The ``streaming_*_sink`` jobs start their own query: all of them
drain the available input (availableNow trigger) through a
foreachBatch function, and each store sink writes every micro-batch
through ``sources.io.overwrite_parquet`` as a dynamic partition
overwrite of that batch's own partition. The stores come in two
layouts:

- **batch-keyed** (quantile, CMS, fuzzy-probe, card, rollup,
  decayed-engagement): partition ``batch_id=<id>`` holds that batch's
  mergeable partial state; the store's reader merges all partitions.
  A replayed batch overwrites its own partition, so an additive merge
  never double-counts.
- **generation** (CC-label, HLL, presence): each batch merges the
  newest generation below its own id with its input and writes the
  result as ``gen=<batch_id>``; readers take the max generation and
  superseded generations are pruned.

``streaming_upsert_sink`` is the one keyed-table sink: its batches
MERGE into the table through ``sources.io.merge_upsert``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ursa_major_choir_etl_spark.sources.io import (
    overwrite_parquet,
    read_parquet_table,
)


def _drain(stream_df: DataFrame, batch_fn, checkpoint_dir: str | None):
    """Start ``stream_df`` with ``batch_fn(batch_df, batch_id)`` as its
    foreachBatch function, draining all available input
    (availableNow). The checkpoint, when given, keeps batch ids stable
    across restarts: that is what makes a replayed batch overwrite its
    own store partition. Returns the started query."""
    writer = stream_df.writeStream.foreachBatch(batch_fn).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def _publish(
    df: DataFrame, batch_id: int, warehouse: str, name: str, key: str = "batch_id"
) -> None:
    """Write one micro-batch's rows as the store partition
    ``<key>=<batch_id>`` (dynamic overwrite: every other partition is
    left as it is, and a replay replaces its own)."""
    overwrite_parquet(
        df.withColumn(key, F.lit(int(batch_id))),
        warehouse,
        name,
        partition_by=[key],
        dynamic=True,
    )


def streaming_upsert_sink(
    stream_df: DataFrame,
    warehouse: str,
    name: str,
    key_cols: list[str],
    partition_col: str | None = None,
    checkpoint_dir: str | None = None,
    seq_col: str | None = None,
):
    """Streaming CDC sink: each micro-batch MERGEs into a parquet
    table via foreachBatch + ``sources.io.merge_upsert`` — later
    arrivals for a key replace earlier rows (upsert), new keys insert.

    foreachBatch is the idempotency boundary: the checkpoint records
    the batch id, and merge_upsert is a deterministic rewrite, so a
    replayed batch converges to the same table (effectively-once).
    With ``partition_col`` each batch rewrites only the partitions it
    touches — the cost scales with the micro-batch, not the table.

    ``seq_col`` switches arrival-order semantics to LOG-ORDER
    semantics — the production CDC contract: the winner per key is
    the row with the LARGEST ``seq_col`` across everything seen so
    far (in-batch dedup keeps the max-seq row; the cross-batch merge
    compares incoming against the standing row and keeps the larger
    seq, so a late-arriving stale update can never clobber newer
    state). max() is commutative and idempotent, which makes the
    drained store independent of how the log is split into
    micro-batches AND of batch replays — the property the q291
    driver value gate certifies against a from-raw last-write-wins
    oracle. ``seq_col`` must be unique per key (a CDC log sequence /
    LSN); ties would make the winner's non-key columns ambiguous.

    Partition moves: in seq mode an update MAY change a key's
    ``partition_col`` value — the standing rows' partitions are
    passed to merge_upsert as extra touched partitions, so the old
    row is retired (and an emptied partition removed) in the same
    atomic swap. In arrival-order mode (no ``seq_col``) the touched
    set is delta-derived only, so ``partition_col`` must be stable
    per key (key-derived, the standard Hive-layout contract) — a
    moving partition value there would leave the key's old row in
    place.
    """
    from ursa_major_choir_etl_spark.sources import io as sio

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window as _W

        path = os.path.join(warehouse, name)
        if seq_col is not None:
            w = _W.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
            best = (
                batch_df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            if not os.path.exists(path):
                writer = best.write.mode("overwrite")
                if partition_col is not None:
                    writer = writer.partitionBy(partition_col)
                writer.parquet(path)
                return
            # Seq-compare against the standing rows: only the touched
            # keys' current rows enter the contest (broadcast semi on
            # the delta keys — delta-sized, never table-sized), then
            # merge_upsert replaces them with the per-key max-seq row.
            # standing and winners are persisted for the merge's
            # duration: winners embeds the target scan + semi join +
            # window, and merge_upsert runs three actions over it
            # (two counts + the write) — unpersisted, each would
            # re-read the standing table.
            spark = batch_df.sparkSession
            target = spark.read.parquet(path)
            standing = target.join(
                F.broadcast(best.select(*key_cols).distinct()),
                key_cols,
                "left_semi",
            ).persist()
            winners = None
            try:
                # An update may MOVE a key to a new partition value;
                # the standing rows' partitions must then join the
                # rewrite so the old row is retired (delta-sized
                # collect — one value per touched partition).
                extra = None
                if partition_col is not None:
                    extra = [
                        r[0]
                        for r in standing.select(partition_col)
                        .distinct()
                        .collect()
                    ]
                winners = (
                    standing.select(*best.columns)
                    .unionByName(best)
                    .withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .drop("_rn")
                ).persist()
                sio.merge_upsert(
                    spark,
                    warehouse,
                    name,
                    winners,
                    key_cols,
                    partition_col=partition_col,
                    extra_touched=extra,
                )
            finally:
                standing.unpersist()
                if winners is not None:
                    winners.unpersist()
            return
        if not os.path.exists(path):
            writer = batch_df.write.mode("overwrite")
            if partition_col is not None:
                writer = writer.partitionBy(partition_col)
            writer.parquet(path)
            return
        # In-batch duplicates on the key: keep an arbitrary-but-
        # deterministic single row per key (last by all-column order)
        # before merging, so the merge key is unique.
        deduped = batch_df.dropDuplicates(key_cols)
        sio.merge_upsert(
            batch_df.sparkSession,
            warehouse,
            name,
            deduped,
            key_cols,
            partition_col=partition_col,
        )

    return _drain(stream_df, merge_batch, checkpoint_dir)


def streaming_quantile_sketch_sink(
    stream_df: DataFrame,
    col: str,
    warehouse: str,
    name: str,
    checkpoint_dir: str | None = None,
):
    """Incremental quantile monitoring: each micro-batch is reduced to
    its mergeable log-histogram sketch (operators.sketches.
    log_quantile_sketch — a few hundred rows regardless of batch size)
    and written to a parquet sketch store partitioned by batch_id.
    ``read_quantile_sketch_store`` merges the store by addition, so
    any-window percentile estimates never rescan or re-sort the raw
    stream — the 100 TB monitoring shape.

    Effectively-once under replay: an ADDITIVE merge is not naturally
    idempotent, so the store keys rows by batch_id and each batch
    DYNAMIC-partition-overwrites only its own partition — a replayed
    batch replaces its previous rows instead of double-counting, and
    the checkpoint guarantees batch ids are stable.
    """
    from ursa_major_choir_etl_spark.operators.sketches import (
        log_quantile_sketch,
    )

    def sketch_batch(batch_df: DataFrame, batch_id: int) -> None:
        _publish(log_quantile_sketch(batch_df, col), batch_id, warehouse, name)

    return _drain(stream_df, sketch_batch, checkpoint_dir)


def read_quantile_sketch_store(spark, warehouse: str, name: str) -> DataFrame:
    """Merged view of a streaming sketch store: per-batch sketch rows
    sum into the corpus sketch (the additive-merge identity, tested
    batch-side), ready for log_quantile_estimates."""
    return (
        read_parquet_table(spark, warehouse, name)
        .groupBy("bucket_lo")
        .agg(F.sum("cnt").alias("cnt"))
    )


def streaming_cms_sink(
    stream_df: DataFrame,
    col: str,
    warehouse: str,
    name: str,
    depth: int = 4,
    width: int = 4096,
    checkpoint_dir: str | None = None,
):
    """Incremental heavy-hitter monitoring: each micro-batch reduces
    to its count-min sketch (operators.sketches.cm_sketch — at most
    depth*width cells regardless of batch size) and lands in a
    parquet sketch store partitioned by batch_id. The frequency
    sibling of streaming_quantile_sketch_sink, with the same
    replay-safety contract: an additive merge is not idempotent, so
    each batch DYNAMIC-partition-overwrites only its own batch_id
    partition — a replayed batch replaces, never double-counts.

    ``read_cms_store`` + sketches.cm_estimate answer "how often has
    value X appeared so far" over any window of batches without
    rescanning the stream.
    """

    from ursa_major_choir_etl_spark.operators.sketches import cm_sketch

    def sketch_batch(batch_df: DataFrame, batch_id: int) -> None:
        sketch = cm_sketch(batch_df, col, depth=depth, width=width)
        _publish(sketch, batch_id, warehouse, name)

    return _drain(stream_df, sketch_batch, checkpoint_dir)


def read_cms_store(spark, warehouse: str, name: str) -> DataFrame:
    """Merged view of a streaming CMS store: per-batch cells sum into
    the corpus sketch (cell-wise additivity), ready for
    sketches.cm_estimate."""
    return (
        read_parquet_table(spark, warehouse, name)
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def streaming_fuzzy_dedup_sink(
    stream_docs: DataFrame,
    corpus: DataFrame,
    warehouse: str,
    name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    checkpoint_dir: str | None = None,
):
    """FUZZY dedup at ingestion: each arriving micro-batch probes the
    static corpus shingle-postings index for near-duplicate partners
    (dedup.incremental_jaccard_probe, q138) and its verdicts land in a
    parquet store partitioned by batch_id — the streaming form of the
    continuous-ingest fuzzy gate.

    foreachBatch rather than a stream-static join: the probe
    aggregates the ARRIVING side (per-doc sorted shingle arrays),
    which the append-mode stream planner cannot express statelessly;
    per-batch delegation keeps ONE definition shared with the batch
    operator, so the gate can never silently disagree with a q138
    batch decision. Replay safety: verdicts are deterministic given
    (batch, corpus), so a replayed batch dynamic-partition-overwrites
    its own batch_id partition with identical rows. At scale the
    corpus argument is the PERSISTED postings/array index, not raw
    text.

    Store rows: (new_id, corpus_id, jaccard, batch_id).
    """

    from ursa_major_choir_etl_spark.caching import release_staged
    from ursa_major_choir_etl_spark.operators.dedup import (
        incremental_jaccard_probe,
    )

    def probe_batch(batch_df: DataFrame, batch_id: int) -> None:
        verdicts = incremental_jaccard_probe(
            batch_df,
            corpus,
            id_col=id_col,
            text_col=text_col,
            n=n,
            threshold=threshold,
        )
        _publish(verdicts, batch_id, warehouse, name)
        release_staged()  # the probe stages shard/corpus arrays per batch

    return _drain(stream_docs, probe_batch, checkpoint_dir)


def read_fuzzy_probe_store(spark, warehouse: str, name: str) -> DataFrame:
    """All fuzzy-dedup verdicts accumulated by
    streaming_fuzzy_dedup_sink: (new_id, corpus_id, jaccard,
    batch_id)."""
    return read_parquet_table(spark, warehouse, name)


def streaming_card_sink(
    stream_docs: DataFrame,
    warehouse: str,
    name: str,
    checkpoint_dir: str | None = None,
):
    """Incremental dataset-card monitoring: each micro-batch reduces
    to ONE mergeable card row (quality.card_batch_row — additive
    counts + HLL sketches for the distinct metrics) landed in a
    parquet store partitioned by batch_id. Same replay-safety
    contract as the CMS/quantile stores: additive merges are not
    idempotent, so each batch dynamic-partition-overwrites only its
    own batch_id — a replayed batch replaces, never double-counts.
    The corpus card at any moment is a sum + sketch-union over the
    store (q296 reads the sums) — no rescan of the stream, ever."""
    from ursa_major_choir_etl_spark.operators.quality import card_batch_row

    def card_batch(batch_df: DataFrame, batch_id: int) -> None:
        _publish(card_batch_row(batch_df), batch_id, warehouse, name)

    return _drain(stream_docs, card_batch, checkpoint_dir)


def streaming_rollup_sink(
    stream_df: DataFrame,
    group_cols: list[str],
    value_col: str,
    warehouse: str,
    name: str,
    checkpoint_dir: str | None = None,
):
    """Streaming form of the q185 incremental-rollup pattern: each
    micro-batch reduces to MERGEABLE per-key partial state
    (n / sum / min / max over ``value_col``) and lands in a parquet
    store partitioned by batch_id — the additive-state sibling of
    streaming_cms_sink (which stores sketch cells) and the contrast
    to streaming_upsert_sink (which replaces whole rows, CDC-style).

    Replay safety: an additive merge is not idempotent, so each batch
    DYNAMIC-partition-overwrites only its own batch_id partition — a
    replayed batch replaces, never double-counts. ``read_rollup_store``
    re-aggregates partial states with the algebraic combine (sum of
    counts/sums, min of mins, max of maxes), which is bit-exact for
    integer measures — the store merged over ANY batching equals the
    single-shot batch aggregate, pinned by the drive test.

    Scale: state written per batch is keyspace-sized, not batch-sized;
    reading N batches of state is an O(N * keyspace) parquet scan with
    a map-side-combined merge.
    """

    def rollup_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(value_col).alias("sum_v"),
            F.min(value_col).alias("min_v"),
            F.max(value_col).alias("max_v"),
        )
        _publish(partial, batch_id, warehouse, name)

    return _drain(stream_df, rollup_batch, checkpoint_dir)


def read_rollup_store(
    spark, warehouse: str, name: str, group_cols: list[str]
) -> DataFrame:
    """Merged rollup over a streaming rollup store: the algebraic
    combine of the per-batch partial states."""
    return (
        read_parquet_table(spark, warehouse, name)
        .groupBy(*group_cols)
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
    )


def streaming_decayed_engagement_sink(
    stream_df: DataFrame,
    warehouse: str,
    name: str,
    checkpoint_dir: str | None = None,
):
    """Streaming form of q207's half-life engagement score: each
    micro-batch reduces events to per-(event_type, epoch_week) cents
    sums — TIME-BUCKETED additive state. Exponential decay is applied
    at READ time (``read_decayed_engagement``) by integer power-of-two
    division against the store's max week, so the state itself never
    needs rewriting as time passes — the standard trick that makes
    decayed counters maintainable incrementally: a week bucket's
    weight changes, its stored sum never does.

    Same replay contract as streaming_rollup_sink: per-batch dynamic
    partition overwrite keyed by batch_id; state per batch is
    (types x weeks)-sized, not batch-sized."""

    def engagement_batch(batch_df: DataFrame, batch_id: int) -> None:
        weekly = (
            batch_df.select(
                "event_type",
                F.expr(
                    "unix_micros(ts) DIV 604800000000"
                ).alias("epoch_week"),
                F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
            )
            .groupBy("event_type", "epoch_week")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("cents").alias("sum_cents"),
            )
        )
        _publish(weekly, batch_id, warehouse, name)

    return _drain(stream_df, engagement_batch, checkpoint_dir)


def read_decayed_engagement(spark, warehouse: str, name: str) -> DataFrame:
    """Merged + decayed view over a streaming engagement store: week
    buckets combine additively across batches, then each bucket is
    halved once per week of age against the store's max week (integer
    ``1 << age`` division, capped at 40 — q207's exact arithmetic).
    Output per event_type: (n_events, raw_cents, decayed_cents,
    retention_ppm). Ages are quantized to EPOCH-WEEK BUCKETS (the
    price of never rewriting state): bit-equal to a single-shot batch
    computation that uses the same bucket ages — the drive test pins
    that equality — but up to one halving apart from q207, whose age
    is measured from the exact max timestamp."""
    weekly = (
        read_parquet_table(spark, warehouse, name)
        .groupBy("event_type", "epoch_week")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_cents").alias("sum_cents"),
        )
    )
    anchor = weekly.agg(F.max("epoch_week").alias("_aw"))
    return (
        weekly.crossJoin(F.broadcast(anchor))
        .withColumn(
            "decayed",
            F.expr(
                "sum_cents DIV shiftleft(CAST(1 AS BIGINT),"
                " least(CAST(_aw - epoch_week AS INT), 40))"
            ),
        )
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("sum_cents").alias("raw_cents"),
            F.sum("decayed").alias("decayed_cents"),
        )
        .withColumn(
            "retention_ppm",
            F.expr(
                "CASE WHEN raw_cents > 0 THEN CAST("
                " CAST(decayed_cents AS DECIMAL(38,0)) * 1000000"
                " DIV raw_cents AS BIGINT) END"
            ),
        )
    )


def _hadoop_path_exists(spark, path: str) -> bool:
    """Existence check through the JVM Hadoop FileSystem resolved FOR
    the path's own scheme (hdfs:/s3a:/file:/bare-local all work) —
    the filesystem Spark itself would read through. Distinguishes
    "store not created yet" (False — the only state a label reader
    may treat as empty) from a real read problem, which spark.read
    then surfaces on its own."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(hconf).exists(hpath)


def _read_generation(
    spark, warehouse: str, name: str, row_schema: str, before_gen: int | None
) -> DataFrame:
    """Rows of the newest generation of a gen-partitioned store
    (optionally the newest BELOW ``before_gen`` — the replay-safe view
    a merging batch reads), as the ``row_schema`` columns. The shared
    reader of the CC-label, HLL and presence stores.

    "Store not created yet" is the ONLY state that may read as empty.
    A transient read failure (permissions, corrupt footer) must
    propagate and fail the batch — swallowing it here would let the
    merge proceed from empty state and publish a new max generation
    that permanently erases history (round-9 ADVICE, medium).
    Existence resolves through the Hadoop FileSystem API, not os.path
    — an hdfs:/s3a:/file: warehouse would make a local stat
    always-False and silently read the store as empty, the exact
    history-erasing mode this gate closes (round-10 ADVICE).

    One narrowed degradation: a store directory that exists but holds
    ZERO data files raises UNABLE_TO_INFER_SCHEMA — and that state
    arises legitimately: a micro-batch whose merged output is empty
    (e.g. an all-filtered first batch) dynamic-partition-writes no
    partition directories at all, leaving just the bare store dir.
    That is "no generations yet", the same as path-absent. Any other
    analysis/read error (corrupt files included) PROPAGATES."""
    from pyspark.errors.exceptions.captured import AnalysisException

    empty = spark.createDataFrame([], row_schema)
    path = os.path.join(warehouse, name)
    if not _hadoop_path_exists(spark, path):
        return empty
    try:
        df = spark.read.parquet(path)
    except AnalysisException as exc:
        if "UNABLE_TO_INFER_SCHEMA" not in str(exc):
            raise
        return empty
    if before_gen is not None:
        df = df.filter(F.col("gen") < before_gen)
    mx = df.agg(F.max("gen")).first()[0]
    if mx is None:
        return empty
    return df.filter(F.col("gen") == mx).select(*empty.columns)


def _prune_generations(spark, path: str, batch_id: int) -> None:
    """Drop superseded generation partitions of a gen-partitioned
    store — EXCEPT the one this batch just consumed. If the job dies
    between the parquet publish and the streaming checkpoint commit,
    the replayed batch reads generations < batch_id again; deleting
    its input here would leave that view empty and the replay would
    silently rebuild state from the current batch alone (round-9
    ADVICE, high). Keeping the predecessor makes the publish+prune
    pair crash-safe at the cost of one extra compacted generation on
    disk; older generations are only readable by batches that already
    committed, so they are safe to drop. Best-effort — readers only
    ever take max(gen), a failed prune costs disk, never correctness.
    Skips anything that is not literally gen=<int> (e.g. a Hive
    default-partition dir) so a stray entry can never fail a batch
    AFTER a successful publish (round-10 ADVICE).

    Listing and deletion route through the Hadoop FileSystem resolved
    for the store path's own scheme — the same handle the existence
    probe uses (round-11 ADVICE: the os.listdir/shutil version
    silently skipped pruning on every non-local warehouse, so remote
    stores accumulated generations until an external janitor ran)."""

    def _gen_of(entry: str) -> int | None:
        if not entry.startswith("gen="):
            return None
        try:
            return int(entry[4:])
        except ValueError:
            return None

    try:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(hconf)
        entries = {}
        for st in fs.listStatus(hpath):
            g = _gen_of(st.getPath().getName())
            if g is not None:
                entries[st.getPath()] = g
        prior = [g for g in entries.values() if g < batch_id]
        keep = {batch_id}
        if prior:
            keep.add(max(prior))  # generation this batch consumed
        for jpath, g in entries.items():
            if g not in keep:
                fs.delete(jpath, True)  # recursive
    except Exception:  # noqa: BLE001 — best-effort by contract
        pass


def _publish_generation(
    df: DataFrame, batch_id: int, warehouse: str, name: str
) -> None:
    """Publish ``df`` as generation ``gen=<batch_id>``, then prune the
    superseded generations — EXCEPT the one this batch just consumed
    (see _prune_generations)."""
    _publish(df, batch_id, warehouse, name, key="gen")
    _prune_generations(
        df.sparkSession, os.path.join(warehouse, name), int(batch_id)
    )


def streaming_cc_label_sink(
    stream_pairs: DataFrame,
    warehouse: str,
    name: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    checkpoint_dir: str | None = None,
):
    """Streaming cluster-label maintenance: each micro-batch of newly
    discovered near-dup pairs (e.g. the fuzzy probe sink's verdicts)
    is folded into the persisted (node, component) label table via
    ``dedup.merge_cc_labels`` — the closure never re-runs over
    historical pairs, completing the continuous-ingest dedup chain
    (exact fingerprint gate -> fuzzy pair probe -> live cluster
    labels).

    Store layout: one generation per micro-batch, parquet partitioned
    by ``gen`` (= batch_id); readers take the max generation. Replay
    safety is structural twice over: a replayed batch reads only
    generations BELOW its own id (its own half-written output is
    invisible to the merge) and dynamic-partition-overwrites its own
    ``gen`` partition; and the merge itself is idempotent — pairs
    already inside one component are no-ops, so even a double-applied
    batch yields byte-identical labels.

    At 100 TB each generation rewrites the compacted label table
    (one row per ever-labeled node) — that is label COMPACTION, the
    cost a production pipeline pays per ingest cycle (availableNow
    per shard drop, not per-second triggers), in exchange for every
    downstream report staying a single parquet scan. Superseded
    generations are pruned after each successful publish."""
    from ursa_major_choir_etl_spark.operators.dedup import merge_cc_labels

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        prev = read_cc_label_store(
            batch_df.sparkSession, warehouse, name, before_gen=int(batch_id)
        )
        merged = merge_cc_labels(
            prev, batch_df.select(F.col(id_a), F.col(id_b))
        )
        _publish_generation(merged, batch_id, warehouse, name)

    return _drain(stream_pairs, merge_batch, checkpoint_dir)


def read_cc_label_store(
    spark, warehouse: str, name: str, before_gen: int | None = None
) -> DataFrame:
    """Current cluster labels accumulated by streaming_cc_label_sink:
    (node, component) rows of the newest generation (optionally the
    newest BELOW ``before_gen`` — the replay-safe view a merging batch
    reads). Missing/empty store -> empty frame with the label
    schema; real read failures propagate (see _read_generation)."""
    return _read_generation(
        spark, warehouse, name, "node long, component long", before_gen
    )


def streaming_hll_register_sink(
    stream: DataFrame,
    warehouse: str,
    name: str,
    group_col: str = "source",
    value_col: str = "token",
    checkpoint_dir: str | None = None,
):
    """Streaming distinct-cardinality maintenance with the PORTABLE
    HLL sketch (operators.sketches.portable_hll_registers): each
    micro-batch's (group, value) rows become md5 registers that
    MAX-merge into the persisted register store — the whole point of
    an HLL is that this merge is lossless and order-free, so the
    store after any replay/reorder of batches is byte-identical to a
    batch rebuild (the property the parity test pins). The live store
    answers per-group distinct estimates and the q265 overlap matrix
    without ever re-reading history.

    Store layout mirrors the CC label store: one generation per
    micro-batch partitioned by ``gen``; readers take max(gen); a
    replayed batch reads only generations BELOW its own id and
    overwrites its own partition, and MAX-merge makes double-apply a
    no-op. Each generation rewrites groups x <=256 rows — register
    compaction, constant in corpus size."""
    from ursa_major_choir_etl_spark.operators.sketches import (
        portable_hll_registers,
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        prev = read_hll_register_store(
            batch_df.sparkSession, warehouse, name, before_gen=int(batch_id)
        )
        fresh = portable_hll_registers(
            batch_df, group_col, value_col
        ).select(
            F.col("_g").alias("grp"),
            F.col("_bkt").alias("bkt"),
            F.col("_r").alias("r"),
        )
        merged = (
            prev.unionByName(fresh)
            .groupBy("grp", "bkt")
            .agg(F.max("r").alias("r"))
        )
        _publish_generation(merged, batch_id, warehouse, name)

    return _drain(stream, merge_batch, checkpoint_dir)


def read_hll_register_store(
    spark, warehouse: str, name: str, before_gen: int | None = None
) -> DataFrame:
    """Current (grp, bkt, r) registers accumulated by
    streaming_hll_register_sink — newest generation, optionally the
    newest BELOW ``before_gen`` (the replay-safe merge view). Missing
    store -> empty registers; real read failures propagate (see
    _read_generation)."""
    return _read_generation(
        spark, warehouse, name, "grp string, bkt int, r int", before_gen
    )


def streaming_presence_bitmap_sink(
    stream: DataFrame,
    warehouse: str,
    name: str,
    key_col: str = "k",
    position_col: str = "pos",
    checkpoint_dir: str | None = None,
):
    """Streaming maintenance of presence bitmaps
    (operators/bitmaps.py): each micro-batch's (key, position) rows
    pack into per-key BIGINT day-set words that OR-merge into the
    persisted store. Like the HLL register store above, the merge is
    lossless and order-free (OR is idempotent, commutative,
    associative), so the store after any replay or reorder of batches
    is byte-identical to a one-shot batch pack — the parity the test
    pins — and double-applying a replayed batch is a no-op.

    Store layout: the generation-per-micro-batch scheme shared with
    the CC-label and HLL stores (readers take max(gen); a replayed
    batch merges only generations BELOW its own id and overwrites its
    own partition). Each generation rewrites one row per ACTIVE key —
    entity-cardinality, constant in event volume. Positions outside
    [0, 62] are excluded (the bitmaps module's signed-word domain
    cap)."""
    from ursa_major_choir_etl_spark.operators.bitmaps import MAX_POSITION

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        prev = read_presence_bitmap_store(
            batch_df.sparkSession,
            warehouse,
            name,
            before_gen=int(batch_id),
            key_type=batch_df.schema[key_col].dataType.simpleString(),
        )
        pos = F.col(position_col)
        fresh = (
            batch_df.filter((pos >= 0) & (pos <= MAX_POSITION))
            .groupBy(F.col(key_col).alias("k"))
            .agg(
                F.expr(
                    f"bit_or(shiftleft(CAST(1 AS BIGINT), {position_col}))"
                ).alias("bitmap")
            )
        )
        merged = (
            prev.unionByName(fresh)
            .groupBy("k")
            .agg(F.expr("bit_or(bitmap)").alias("bitmap"))
        )
        _publish_generation(merged, batch_id, warehouse, name)

    return _drain(stream, merge_batch, checkpoint_dir)


def read_presence_bitmap_store(
    spark,
    warehouse: str,
    name: str,
    before_gen: int | None = None,
    key_type: str = "string",
) -> DataFrame:
    """Current (k, bitmap) rows accumulated by
    streaming_presence_bitmap_sink — newest generation, optionally
    the newest BELOW ``before_gen`` (the replay-safe merge view).
    Missing store -> empty; real read failures propagate (see
    _read_generation).

    ``key_type`` sets the key column type of the empty frame a
    missing store resolves to. The sink passes the stream's own key
    type here, so a non-string-keyed store's FIRST batch unions
    against a matching empty frame instead of silently coercing its
    keys to string (round-11 ADVICE) — batch-pack parity then holds
    for any key type. An existing store reads with its stored key
    type regardless."""
    return _read_generation(
        spark, warehouse, name, f"k {key_type}, bitmap long", before_gen
    )
