"""Streaming sinks (SURVEY §2.1 S4/S5, §2.6 R1).

Reference sink surface: labeled console print (EnrichmentApp.java:
97-103) and partitioned parquet on HDFS with a rolling policy
(EnrichmentApp.java:183-204: PARTITIONED BY (event_date, probe),
file-size 110 MB / check 5 s / rollover 20 s; flink.conf:51-59),
checkpointing every 180 s (EnrichmentApp.java:48).

`app.run`'s streaming query hands each micro-batch to one of the
``write_arrow(table, batch_id)`` writers here as an Arrow table
collected on the driver (partition columns in their string form), so
no writer runs a Spark job and a batch is bounded by
``spark.driver.maxResultSize``:

- parquet: `SizeCalibratedRoller` commits the batch as
  ``_batch=<id>/<partition_by>…`` with pyarrow (`_commit_arrow_batch`:
  stage, swap in, ``_SUCCESS``), rolling files at a calibrated record
  cap so each stays under the configured byte size;
- memory: `memory_table_writer`; console: `console_write_arrow`.

`committed_batch_dirs` is the read side of the ``_batch`` commit;
`compact_batches` folds committed batches of the parquet sink and
`vacuum_snapshots` drops superseded snapshots of a snapshot store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def trigger_kwargs(trigger: str | None) -> dict:
    if trigger is None or trigger == "availableNow":
        return {"availableNow": True}
    return {"processingTime": trigger}


# Spark's ExternalCatalogUtils.escapePathName: these characters become
# %XX in a partition directory name; everything else (space, non-ASCII)
# stays raw. NULL and "" both become the Hive default partition.
_PATH_ESCAPES = frozenset(map(chr, range(1, 32))) | frozenset("\"#%'*/:=?\\\x7f{[]^")
_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _escape_path_name(s: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPES else c for c in s)


def _partition_dir_names(values, col: str):
    """One ``col=value`` directory name per row, spelled as Spark's
    writer spells it; ``values`` is the column already cast to string
    by Spark (so timestamps, doubles and decimals print as Spark
    prints them)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    enc = pc.dictionary_encode(values).combine_chunks()
    key = _escape_path_name(col)
    names = [
        f"{key}={_escape_path_name(v) if v else _HIVE_DEFAULT_PARTITION}"
        for v in enc.dictionary.to_pylist()
    ]
    names.append(f"{key}={_HIVE_DEFAULT_PARTITION}")  # the NULL slot
    return pc.take(pa.array(names, pa.string()), pc.fill_null(enc.indices, len(names) - 1))


def _commit_arrow_batch(
    table,
    root: str,
    batch_id: int,
    partition_by: tuple[str, ...],
    max_records_per_file: int | None,
) -> list[tuple[str, int, int]]:
    """Write ``table`` (an Arrow table collected on the driver, its
    partition columns in their string form) as ``root/_batch=<id>``:
    stage, swap in, then ``_SUCCESS``. Returns (path, rows, bytes) per
    data file."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    sub = os.path.join(root, f"_batch={batch_id}")
    # a dot-prefixed name: neither the `_batch=*` glob nor Spark's
    # partition discovery sees a half-written batch
    staging = os.path.join(root, f".staging_batch={batch_id}")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    files: list[tuple[str, int, int]] = []
    if table.num_rows == 0 and not partition_by:
        # as Spark does: an empty batch still leaves one schema-only file
        path = os.path.join(staging, "part-0.parquet")
        pq.write_table(table, path)
        files.append((path, 0, os.path.getsize(path)))
    elif table.num_rows:
        partitioning = None
        if partition_by:
            for c in partition_by:
                i = table.schema.get_field_index(c)
                table = table.set_column(i, c, _partition_dir_names(table[c], c))
            partitioning = ds.DirectoryPartitioning(
                pa.schema([(c, pa.string()) for c in partition_by]),
                segment_encoding="none",
            )
        # one row group per file (Spark's 128 MB row groups hold a whole
        # rolled file): without the minimum, every incoming Arrow record
        # batch becomes its own row group
        rows = max_records_per_file or table.num_rows
        ds.write_dataset(
            table,
            staging,
            format="parquet",
            partitioning=partitioning,
            max_partitions=table.num_rows,
            max_rows_per_file=rows,
            min_rows_per_group=rows,
            max_rows_per_group=rows,
            file_visitor=lambda f: files.append((f.path, f.metadata.num_rows, f.size)),
        )
    if os.path.exists(sub):
        shutil.rmtree(sub)
    os.rename(staging, sub)
    open(os.path.join(sub, "_SUCCESS"), "wb").close()
    return [(os.path.join(sub, os.path.relpath(p, staging)), r, b) for p, r, b in files]


def committed_batch_dirs(root: str) -> list[str]:
    """``_batch=<id>`` subdirectories bearing Spark's ``_SUCCESS``
    commit marker — the read-side half of `_commit_arrow_batch`'s
    crash-safety contract, shared by the parquet sink, its compaction
    and the session closer's state. A crash mid-write leaves a partial
    ``_batch`` dir whose parquet files would read as a silently-short
    batch; the replay overwrites it, but a read BETWEEN crash and
    restart must not see it."""
    import glob
    import os

    return sorted(
        p
        for p in glob.glob(os.path.join(root, "_batch=*"))
        if os.path.exists(os.path.join(p, "_SUCCESS"))
    )


def _partition_keys(batch_dir: str) -> list[str]:
    """Hive partition-key chain under one ``_batch`` dir (outermost
    first) — how compact_batches learns a store's current layout."""
    import os

    keys, cur = [], batch_dir
    while os.path.isdir(cur):
        subs = sorted(
            d for d in os.listdir(cur) if "=" in d and os.path.isdir(os.path.join(cur, d))
        )
        if not subs:
            break
        keys.append(subs[0].split("=", 1)[0])
        cur = os.path.join(cur, subs[0])
    return keys


def compact_batches(
    spark,
    root: str,
    *,
    min_live_batch: int,
    partition_by: tuple[str, ...] = (),
) -> int:
    """Fold all ``_batch=<id>`` partitions with id < ``min_live_batch``
    into one consolidated partition — the file-count control an
    additive per-batch store needs at scale (a year of minute
    triggers is ~500k tiny partitions without it).

    Safety contract: only batches the streaming checkpoint has
    durably COMMITTED may be compacted (a replayed live batch must
    still find its own partition to overwrite — pass the query's last
    committed batch id as ``min_live_batch``). The consolidated rows
    land in ``_batch=<min_live_batch * -1 - 1>`` (a negative id no
    real batch can collide with, distinct per compaction horizon);
    prior consolidated partitions are re-absorbed by each compaction.
    Rows are concatenated unchanged. Returns the number of partitions
    absorbed.

    ``partition_by``: the parquet sink's layout is
    ``_batch=N/event_date=…/probe=…``, so at low event rates each batch
    leaves one small file per partition value. Passing the sink's
    partition columns re-writes the consolidated rows PARTITIONED BY
    them (one writer task → one file per partition dir), so downstream
    partition pruning is preserved while the file count collapses to
    ~the partition cardinality. In this mode a SINGLE committed batch
    is already worth folding (the fan-out is within the batch, not
    across)."""
    import glob as _glob
    import os
    import shutil

    # Crash recovery BEFORE scanning fold targets: `.compact_old` is
    # the prior consolidated dir moved aside mid-swap. If any
    # committed negative-id (consolidated) dir exists, the swap
    # completed and the aside rows are already folded — debris, drop
    # it. If NONE exists, the crash landed between the two swap
    # renames and the aside holds the ONLY copy of previously
    # consolidated rows — resurface it under a fresh negative batch
    # id so this run (and `_batch=*` readers meanwhile) fold it back
    # in instead of losing it (round-10 ADVICE).
    aside = os.path.join(root, ".compact_old")
    if os.path.exists(aside):
        neg_committed = [
            p
            for p in _glob.glob(os.path.join(root, "_batch=-*"))
            if os.path.exists(os.path.join(p, "_SUCCESS"))
        ]
        if neg_committed:
            shutil.rmtree(aside)
        else:
            rescue_bid = -min_live_batch - 2
            while os.path.exists(os.path.join(root, f"_batch={rescue_bid}")):
                rescue_bid -= 1
            os.rename(aside, os.path.join(root, f"_batch={rescue_bid}"))

    olds, live = [], []
    for p in sorted(_glob.glob(os.path.join(root, "_batch=*"))):
        try:
            bid = int(os.path.basename(p).split("=", 1)[1])
        except ValueError:
            continue
        if bid >= min_live_batch:
            live.append(p)
        # fold only COMMITTED batches (the committed_batch_dirs
        # _SUCCESS check): an uncommitted crash-partial directory
        # below the horizon must stay invisible until its replay
        # overwrites it — folding it would make partial data
        # permanent (round-8 ADVICE; the single-batch event-sink
        # mode removed the accidental two-committed-batches guard)
        elif os.path.exists(os.path.join(p, "_SUCCESS")):
            olds.append((bid, p))
    consolidated = os.path.join(root, f"_batch={-min_live_batch - 1}")
    if len(olds) < (1 if partition_by else 2):
        return 0  # nothing worth folding
    if all(p == consolidated for _, p in olds) and list(
        partition_by
    ) == _partition_keys(consolidated):
        # Re-run at an unchanged horizon with nothing new below it and
        # no layout change: the only fold target is the current
        # consolidated dir itself, already in the requested shape.
        # Rewriting it would report a phantom absorb and briefly
        # expose readers to a partial store for zero gain (round-9
        # ADVICE). A DIFFERENT partition_by is real work (the
        # coarsen-on-compact path) and still proceeds.
        return 0
    if partition_by and live:
        # Coarsen-on-compact (partition_by narrower than the sink's
        # per-batch layout) changes the consolidated dir's partition
        # depth; a later spark.read.parquet(root) over MIXED depths
        # throws CONFLICTING_DIRECTORY_STRUCTURES. Safe only when the
        # requested layout matches the live batches' layout — refuse
        # otherwise rather than corrupt the store's readability
        # (round-8 ADVICE; a fold of ALL batches never gets here).
        sink_keys = _partition_keys(olds[0][1])
        if list(partition_by) != sink_keys:
            raise ValueError(
                f"compact_batches: partition_by {list(partition_by)} differs "
                f"from the sink layout {sink_keys} while live batch dirs "
                f"remain ({len(live)}) — coarsening would leave mixed "
                "partition depths under one root; compact with the full "
                "layout or raise min_live_batch past every live batch"
            )
    # basePath anchors partition discovery when batch dirs carry user
    # partition subdirs (event-sink layout); it also surfaces _batch
    # as a column — dropped to keep the consolidated schema identical
    # to the flat-store behavior
    df = (
        spark.read.option("basePath", root)
        .parquet(*[p for _, p in olds])
        .drop("_batch")
    )
    tmp = consolidated + ".tmp"
    writer = df.coalesce(1).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    # absorb-then-swap: readers between the rm and the rename could
    # see a partial store, so swap the consolidated dir in FIRST,
    # then drop the absorbed partitions (transient double-count beats
    # transient data loss for monitoring stores; exact readers should
    # compact offline). When the prior consolidated dir is itself a
    # fold target (same horizon, new data below it), move it ASIDE
    # with a rename — two renames narrow the hidden-rows window to
    # microseconds vs an O(files) rmtree (round-9 ADVICE). The aside
    # name carries no `_batch=` prefix so a crash between the renames
    # can never surface it to `_batch=*` readers as a live partition.
    aside = os.path.join(root, ".compact_old")
    if os.path.exists(aside):  # crash debris from a prior swap
        shutil.rmtree(aside)
    if os.path.exists(consolidated):
        os.rename(consolidated, aside)
    os.rename(tmp, consolidated)
    if os.path.exists(aside):
        shutil.rmtree(aside)
    for _, p in olds:
        if p != consolidated:
            shutil.rmtree(p)
    return len(olds)


def vacuum_snapshots(root: str, *, min_live_batch: int, keep_last: int = 1) -> int:
    """Maintenance for SNAPSHOT stores (StreamingComponents' mapping,
    PackingStream's cursor): each ``_batch=<id>`` there is a FULL
    snapshot superseding every earlier one, so compaction is simply
    deletion — keep the newest ``keep_last`` committed snapshots below
    ``min_live_batch`` and drop the rest. (`compact_batches` is the
    ADDITIVE-store fold; folding snapshots would double-count.)

    Safety contract mirrors compact_batches: only batches the
    streaming checkpoint has durably committed may be vacuumed — a
    replayed live batch reads the latest snapshot strictly BEFORE
    itself, so `min_live_batch` must be the query's last committed
    batch id. Uncommitted (crash-partial) directories below the
    horizon are dropped too — nothing can ever read them. Returns the
    number of directories removed."""
    import glob as _glob
    import os
    import shutil

    snaps = []
    for p in sorted(_glob.glob(os.path.join(root, "_batch=*"))):
        try:
            bid = int(os.path.basename(p).split("=", 1)[1])
        except ValueError:
            continue
        if bid < min_live_batch:
            committed = os.path.exists(os.path.join(p, "_SUCCESS"))
            snaps.append((bid, p, committed))
    snaps.sort()
    keep = {p for _, p, c in [s for s in snaps if s[2]][-keep_last:]}
    removed = 0
    for _, p, _c in snaps:
        if p not in keep:
            shutil.rmtree(p)
            removed += 1
    return removed


class SizeCalibratedRoller:
    """foreachBatch writer that approximates a byte-size rolling policy
    (flink.conf:54-55: sink.rolling-policy.file-size = 110 MB).

    The writer rolls on RECORD count (``max_records_per_file``), not
    bytes, so the cap is enforced by calibration. The FIRST batch
    encodes its first ``calibration_sample_rows`` rows to parquet in
    memory and measures bytes-per-row before anything is written (so
    the byte ceiling holds even for very wide rows — no record-count
    guess is trusted); every batch then refines the estimate from the
    rows and bytes `_commit_arrow_batch` reports for the files it just
    wrote.

    The whole micro-batch is held on the driver as Arrow while it is
    written, so one batch is bounded by ``spark.driver.maxResultSize``.

    Restart semantics: each batch replaces its own ``_batch=<id>``
    subdirectory through `_commit_arrow_batch` — replays are exact
    overwrites, never appends, at any crash point."""

    def __init__(
        self,
        path: str,
        partition_by: tuple[str, ...],
        target_file_bytes: int,
        initial_records_per_file: int | None = None,
        headroom: float = 0.9,
        calibration_sample_rows: int = 256,
    ) -> None:
        self.path = path
        self.partition_by = partition_by
        self.target = target_file_bytes
        self.max_records = initial_records_per_file  # None → sample-calibrate
        self.headroom = headroom
        self.sample_rows = calibration_sample_rows
        self._total_bytes = 0
        self._total_rows = 0

    def _cap(self, nbytes: float, rows: int) -> int:
        return max(1, int(self.target * self.headroom / max(nbytes / rows, 1e-9)))

    def _sample_calibrate(self, table) -> None:
        """Bytes-per-row of the batch's first rows, encoded in memory
        as the writer would encode them (partition columns live in
        directory names, not in the files). An empty batch leaves the
        cap unset for the next one."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        sample = table.slice(0, self.sample_rows).drop_columns(list(self.partition_by))
        if sample.num_rows:
            buf = pa.BufferOutputStream()
            pq.write_table(sample, buf)
            # small samples overweigh the fixed footer; still a safe
            # (over-)estimate of bytes/row → an under-estimate of the cap
            self.max_records = self._cap(buf.tell(), sample.num_rows)

    def write_arrow(self, table, batch_id: int) -> None:
        """Commit a micro-batch already collected as Arrow on the
        driver, its partition columns in their string form."""
        if self.max_records is None:
            self._sample_calibrate(table)
        files = _commit_arrow_batch(
            table, self.path, batch_id, self.partition_by, self.max_records
        )
        self._total_rows += sum(r for _, r, _ in files)
        self._total_bytes += sum(b for _, _, b in files)
        if self._total_rows:
            self.max_records = self._cap(self._total_bytes, self._total_rows)


# Batches the memory sink's view unions before `memory_table_writer`
# folds them into one local checkpoint. A union of one local relation
# per batch grows the view's plan, and the analysis every batch pays,
# with the batch count: 10-row batches took 0.48 s a batch at the
# 200th and 1.0 s at the 300th (4 cores). Folding every 16 held them
# at ~26 ms a batch over 1,000 batches.
MEMORY_FOLD_BATCHES = 16


def memory_table_writer(spark, name: str):
    """A ``write_arrow(table, batch_id)`` for the memory sink: after
    each batch, ``spark.table(name)`` in ``spark`` returns every row
    written so far. Each batch's rows reach the JVM once, as their own
    local relation tagged with the batch id; the view is the union of
    those since the last fold and one folded frame. Every
    ``MEMORY_FOLD_BATCHES`` batches the union becomes the new folded
    frame, a one-partition local checkpoint (one Spark job, no rows
    from Python), so the view's plan and partition count stay bounded
    however many batches arrive. A replayed batch replaces its own
    rows."""
    from functools import reduce

    folded: list[DataFrame] = []  # at most one frame
    folded_ids: set[int] = set()
    recent: dict[int, DataFrame] = {}

    def write_arrow(table, batch_id: int) -> None:
        if batch_id in folded_ids:
            folded[0] = folded[0].filter(F.col("_batch") != batch_id)
            folded_ids.discard(batch_id)
        recent[batch_id] = spark.createDataFrame(table).withColumn(
            "_batch", F.lit(batch_id)
        )
        frames = folded + [recent[b] for b in sorted(recent)]
        if len(recent) >= MEMORY_FOLD_BATCHES:
            union = reduce(DataFrame.unionByName, frames)
            folded[:] = [union.coalesce(1).localCheckpoint()]
            folded_ids.update(recent)
            recent.clear()
            frames = folded
        reduce(DataFrame.unionByName, frames).drop("_batch").createOrReplaceTempView(name)

    return write_arrow


def console_write_arrow(table, batch_id: int, num_rows: int = 20) -> None:
    """The console sink's ``write_arrow`` (EnrichmentApp.java:97-103):
    Spark's console-sink ``Batch: <id>`` header, then the first
    ``num_rows`` rows, printed from the Arrow table without a Spark
    job."""
    rule = "-" * 43
    print(f"{rule}\nBatch: {batch_id}\n{rule}")
    print(table.slice(0, num_rows).to_pandas().to_string(index=False))
