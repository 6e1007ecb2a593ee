"""ManifestEventLog — the EventLog re-based on a table-format-style
manifest + generation-pointer commit, closing ``EventLog.compact``'s
documented POSIX/HDFS rename constraint (streaming/log.py:174-184).

The classic file-stream pairing (``readStream.parquet(dir)``) subscribes
to a *directory* and checkpoints *file names*, which forces two
compromises on the plain ``EventLog``:

- compaction must swap the directory in place (two renames — atomic on
  POSIX/HDFS, NOT on S3/GCS, and with a no-live-dir crash window), and
- a checkpointed consumer sees every compacted file as "new" and replays
  the whole log (filtered only by the consumer's own watermark).

This log keeps the reference's message semantics (ids, ordering,
tombstones — /root/reference/lib/stream.ex:10-30) but stores data the
way cloud table formats do (Iceberg/Delta/Hudi snapshot model):

    root/
      CURRENT                 pointer {"gen": N, "max_ms", "max_seq", ...}
      gen=N/manifest.json     entries [{file, min, max, rows}] (composite
                              (ms, seq) range per file)
      data/<uuid>.parquet     immutable data files, shared across
                              generations, referenced only via manifests

Appends write new data files then commit ``old manifest + new entries``;
compaction writes replacement files then commits a manifest listing only
them. Both are a single atomic pointer swap (``streaming.commit.
GenerationState``) — no rename of live data, no crash window without a
complete readable log, object-store safe. Unreferenced data files are
garbage, removed by an explicit ``vacuum()`` (kept out of ``compact()``
so an in-flight reader that planned file splits from the previous
generation drains before deletion — same retention discipline as Delta's
VACUUM).

Streaming reads use the ``manifestlog`` Python DataSource
(sources/manifest_source.py): offsets are logical ``(ms, seq)``
positions — the reference consumer's cursor (consumer.ex:276-278) —
never file names, so compaction is invisible to a running stream AND to
its checkpoint: a replayed micro-batch re-serves the same rows from
whatever files the current generation holds.

Scale notes: ``latestOffset``/``max_position`` read the pointer object —
O(1), no footer scans; the manifest carries per-file (ms, seq) ranges so
micro-batch planning prunes files without touching data (at 100 TB the
manifest itself would shard per day-partition, same as any table
format's manifest list); the batch face resolves the manifest and hands
the file list to Spark's native parquet reader (JVM scan, full codegen —
the Python source is only the streaming control plane, not the batch
data plane).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .commit import GenerationState
from .log import MESSAGE_SCHEMA, _stringify, local_frame


class ManifestEventLog:
    """Append-only (ms, seq)-ordered message log, manifest-committed."""

    def __init__(self, root: str):
        self.root = root
        self.state = GenerationState(root)
        self.data_dir = os.path.join(root, "data")
        os.makedirs(self.data_dir, exist_ok=True)
        self._cursor: tuple[int, int] | None = None

    # -- manifest plumbing ---------------------------------------------

    #: committed generations retained for snapshot reads; older ones
    #: expire automatically (their manifest dirs are swept at commit)
    HISTORY_CAP = 64

    def manifest(self, gen: int | None = None) -> list[dict]:
        """Entries of a committed generation — the current one by
        default ([] before first commit). ``gen`` must be in
        ``generations()``: an expired or never-committed number (e.g. a
        crashed writer's orphan stage) raises rather than serving a
        possibly-torn manifest."""
        if gen is None:
            cur = self.state.current_dir()
            if cur is None:
                return []
            path = os.path.join(cur, "manifest.json")
        else:
            if gen not in self.generations():
                raise ValueError(
                    f"generation {gen} is not in the committed history "
                    f"{self.generations()} (expired or never committed)"
                )
            path = os.path.join(self.state.gen_dir(gen), "manifest.json")
        with open(path) as fh:
            return json.load(fh)

    def generations(self) -> list[int]:
        """Committed generations available for snapshot reads, oldest
        first (capped at HISTORY_CAP — the automatic retention policy)."""
        return [int(g) for g in self.state.meta().get("history", [])]

    def data_files(self, gen: int | None = None) -> list[str]:
        return [os.path.join(self.root, e["file"]) for e in self.manifest(gen)]

    def _commit_manifest(self, entries: list[dict]) -> None:
        """Stage a new generation holding ``entries``, commit the pointer
        (with the log-end position AND the committed-generation history
        riding in the same atomic step), then sweep manifest dirs that
        are neither in the history nor current — i.e. expired snapshots
        and crashed writers' orphan stages. Manifests are tiny JSON, so
        retaining HISTORY_CAP of them costs nothing; data-file GC is
        vacuum()'s job."""
        gen, path = self.state.stage()
        with open(os.path.join(path, "manifest.json"), "w") as fh:
            json.dump(entries, fh)
        mx = max(
            (tuple(e["max"]) for e in entries), default=(-1, -1)
        )
        history = (self.generations() + [gen])[-self.HISTORY_CAP:]
        self.state.commit(
            gen,
            max_ms=mx[0],
            max_seq=mx[1],
            rows=sum(e["rows"] for e in entries),
            files=len(entries),
            history=history,
        )
        self.state.cleanup(keep=set(history))

    # -- produce (R1) ---------------------------------------------------

    def max_position(self, spark: SparkSession | None = None) -> tuple[int, int]:
        """Log end as (ms, seq) from the pointer — O(1), vs the plain
        EventLog's max-scan. (spark arg kept for interface parity.)"""
        meta = self.state.meta()
        return (int(meta.get("max_ms", -1)), int(meta.get("max_seq", -1)))

    def produce_many(self, spark: SparkSession, payloads: list[dict]) -> list[str]:
        """Append one batch; same id discipline as EventLog.produce_many
        (monotone ms, consecutive seq — stream.ex:29). The batch becomes
        ONE immutable data file; the manifest commit publishes it. An
        empty batch returns ``[]`` and commits nothing."""
        if not payloads:
            return []
        if self._cursor is None:
            self._cursor = self.max_position()
        last_ms, last_seq = self._cursor
        ms = max(int(time.time() * 1000), last_ms)
        base = last_seq + 1 if ms == last_ms else 0
        rows = [
            (ms, base + i, f"{ms}-{base + i}", _stringify(p))
            for i, p in enumerate(payloads)
        ]
        df = local_frame(spark, rows, MESSAGE_SCHEMA).coalesce(1)
        entry = self._write_files(df)
        self._commit_manifest(self.manifest() + entry)
        self._cursor = (ms, base + len(payloads) - 1)
        return [r[2] for r in rows]

    def produce(self, spark: SparkSession, payload: dict) -> str:
        return self.produce_many(spark, [payload])[0]

    def produce_df(self, df: DataFrame) -> None:
        """Bulk append of pre-stamped message rows (E3). Single-writer:
        ids must exceed the committed ``max_position`` — the caller is
        the id authority, as with EventLog.produce_df."""
        entries = self._write_files(df.select(*MESSAGE_SCHEMA.fieldNames()))
        self._commit_manifest(self.manifest() + entries)
        self._cursor = None  # re-sync from the pointer on next produce

    def _write_files(self, df: DataFrame) -> list[dict]:
        """Write ``df`` as new immutable data files; return their
        manifest entries (composite (ms, seq) range + row count per
        file, computed with one metadata-light Spark agg). Files are
        invisible until the manifest referencing them commits — the
        table-format model that makes plain PUTs safe on object stores."""
        stage = os.path.join(self.root, f"_stage-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(stage)
        spark = df.sparkSession
        stats = (
            spark.read.schema(MESSAGE_SCHEMA)
            .parquet(stage)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                F.min(F.struct("ms", "seq")).alias("lo"),
                F.max(F.struct("ms", "seq")).alias("hi"),
                F.count(F.lit(1)).alias("rows"),
            )
            .collect()
        )
        entries = []
        for r in stats:
            name = f"{uuid.uuid4().hex}.parquet"
            src = r["f"]
            src = src[len("file:"):] if src.startswith("file:") else src
            os.rename(src, os.path.join(self.data_dir, name))
            entries.append(
                {
                    "file": os.path.join("data", name),
                    "min": [r["lo"]["ms"], r["lo"]["seq"]],
                    "max": [r["hi"]["ms"], r["hi"]["seq"]],
                    "rows": r["rows"],
                }
            )
        shutil.rmtree(stage, ignore_errors=True)
        return entries

    # -- read -----------------------------------------------------------

    def read(self, spark: SparkSession, gen: int | None = None) -> DataFrame:
        """Batch read via the manifest — native JVM parquet scan over
        exactly the committed files (empty-log safe).

        ``gen`` reads a RETAINED SNAPSHOT (time travel): every commit is
        a complete manifest, so any generation in ``generations()``
        reconstructs the log exactly as it was at that commit — until
        ``vacuum()`` reclaims data files the current generation no
        longer references, which expires older snapshots (the Delta
        VACUUM trade, surfaced here as an explicit error rather than a
        partial read)."""
        files = self.data_files(gen)
        if not files:
            return spark.createDataFrame([], MESSAGE_SCHEMA)
        if gen is not None:
            missing = [f for f in files if not os.path.exists(f)]
            if missing:
                raise FileNotFoundError(
                    f"snapshot gen={gen} references {len(missing)} data "
                    "file(s) reclaimed by vacuum(); only snapshots sharing "
                    "the current generation's files remain readable"
                )
        return spark.read.schema(MESSAGE_SCHEMA).parquet(*files)

    def read_stream(
        self,
        spark: SparkSession,
        max_rows_per_trigger: int | None = None,
        max_files_per_trigger: int | None = None,
    ) -> DataFrame:
        """Unbounded read with logical (ms, seq) offsets — compaction-
        and checkpoint-safe (see module docstring). The pacing knobs map
        to the manifestlog source options; registration is idempotent."""
        from ..session import ship_package
        from ..sources.manifest_source import ManifestLogDataSource

        ship_package(spark)
        spark.dataSource.register(ManifestLogDataSource)
        reader = spark.readStream.format("manifestlog").option("path", self.root)
        if max_rows_per_trigger:
            reader = reader.option("maxRowsPerTrigger", str(max_rows_per_trigger))
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return reader.load()

    # -- maintenance (R12-adjacent) --------------------------------------

    def compact(self, spark: SparkSession, target_files: int = 1) -> int:
        """Rewrite the log into ``target_files`` files and commit a
        manifest listing only them. Ids, rows, and the (ms, seq) order
        contract are preserved; live readers keep serving logical
        offsets — replays return the same rows from the new files.
        Returns the message count. Old files become unreferenced;
        reclaim with ``vacuum()`` once in-flight readers drain
        (single-writer discipline, like every lock-less table format)."""
        df = self.read(spark)
        n = df.count()
        if not self.manifest():
            return 0
        # RANGE repartition, not hash: compacted files must keep DISJOINT
        # (ms, seq) spans or every file overlaps every future micro-batch
        # range — manifest pruning and file-granular pacing would be dead
        # for the rest of the log's life (each resume scanning the whole
        # compacted log instead of O(new data)).
        entries = self._write_files(
            df.repartitionByRange(target_files, "ms", "seq")
        )
        self._commit_manifest(entries)
        return n

    def vacuum(self) -> int:
        """Delete data files the CURRENT generation doesn't reference.
        Separate from compact() on purpose: a reader that planned its
        splits from the previous generation must drain first, and
        retained snapshots (``read(spark, gen=...)``) stay readable
        until this runs (Delta-VACUUM-style retention, collapsed to an
        explicit owner-invoked step)."""
        live = {os.path.basename(e["file"]) for e in self.manifest()}
        removed = 0
        for name in os.listdir(self.data_dir):
            if name not in live:
                os.remove(os.path.join(self.data_dir, name))
                removed += 1
        return removed


# ---------------------------------------------------------------------------
# q139 — the manifest log as a registry face: bulk-produce the event table
# as messages, compact (rewriting every data file), vacuum, read back via
# the manifest, and aggregate out of the string payloads. The oracle sees
# none of the machinery — if ids, payload coercion, the manifest commit, or
# compaction lost or duplicated a row, the hash diverges.
# ---------------------------------------------------------------------------


Q139_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(user_id) AS BIGINT) AS uid_sum,
       CAST(MAX(event_id) AS BIGINT) AS max_ms
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def _register_query() -> None:
    from ..catalog import load_table
    from ..registry import register
    from ..sources.ingest import _scratch

    @register("q139_manifest_log", Q139_SQL)
    def q139_manifest_log(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Events → message log (ms = event_id, payload = stringified
        columns, the reference's to_string coercion) → compact → vacuum →
        manifest batch read → aggregate. Deterministic ids make the
        roundtrip oracle-checkable; the scratch root is per-prefix and
        swept (ADVICE r03 item 5 discipline, sources/ingest.py:82)."""
        root = _scratch("q139_mlog_")
        shutil.rmtree(root, ignore_errors=True)
        log = ManifestEventLog(root)
        e = load_table(spark, sf_dir, "events")
        log.produce_df(
            e.select(
                F.col("event_id").cast("long").alias("ms"),
                F.lit(0).cast("long").alias("seq"),
                F.concat_ws("-", F.col("event_id"), F.lit("0")).alias("id"),
                F.create_map(
                    F.lit("type"), F.col("event_type"),
                    F.lit("uid"), F.col("user_id").cast("string"),
                ).alias("payload"),
            )
        )
        log.compact(spark, target_files=2)
        log.vacuum()
        return (
            log.read(spark)
            .groupBy(F.element_at("payload", "type").alias("event_type"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.element_at("payload", "uid").cast("bigint")).alias("uid_sum"),
                F.max("ms").alias("max_ms"),
            )
            .orderBy("event_type")
        )


_register_query()
