"""Observe-gated epoch promotion (E155 — closing the E150 ∘ E151 loop).

q203 declares the expectation-suite shape (per-row predicates folded into
map-side violation counters); ``observe()`` (streaming/metrics.py) proves
counters can ride a query's own job via CollectMetrics. This module makes
the counters GATE something: an epoch's output is written once — into its
own epoch directory, with the expectation sums attached to that very
write job through ``pyspark.sql.Observation`` (zero extra source pass,
plan-asserted in tests) — and is PUBLISHED only if every violation count
is within its declared threshold. A failing epoch is quarantined with its
counter values instead of landing half-bad data a downstream training job
would silently absorb (Deequ's "check-then-publish", on Spark's native
observed-metrics mechanism).

Publication is a POINTER COMMIT, not a directory rename (round 11,
VERDICT r10 item 4): the epoch's data files are reader-invisible until
the tiny ``PUBLISHED`` pointer object — the set of promoted epoch ids —
is atomically replaced (``commit.commit_pointer``: os.replace locally,
one small PUT on an object store). This is the same discipline every
other durable state site uses (GenerationState, E52b); the previous
``os.rename`` promote was atomic only on POSIX, which contradicted the
repo's own storage rule. Crash windows (pinned in tests/test_gate.py):

- after the data write, before the pointer commit → the epoch dir is
  orphaned but invisible; foreachBatch replay overwrites it and commits;
- after the pointer commit → replay sees the epoch published, no-op;
- after the journal line, before the quarantine move → replay re-stages,
  re-journals (duplicate line — the read side dedupes by epoch, last
  line wins) and completes the move;
- after the quarantine move → replay short-circuits on the quarantine
  dir, which now PROVES the journal line exists: the journal is written
  strictly before the move (ADVICE r11 — the old move-first order could
  strand a quarantined epoch with no journal record forever, because the
  dir short-circuit suppressed the repair).

Scale: the gate adds ZERO passes (the counters ride the epoch write),
one driver-side dict read per epoch (Observation.get — the bounded
consumer-watermark class), and one pointer PUT. The quarantine move is a
local rename — diagnostic state, never read by ``published``, so object
stores may implement it as copy+delete without a correctness window.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from .commit import commit_pointer, read_pointer


class GatedEpochWriter:
    """Write per-epoch parquet output gated by expectation predicates.

    ``expectations`` maps rule name → (per-row violation predicate,
    max tolerated violations). Example::

        gate = GatedEpochWriter(out, {
            "doc_id.not_null":  (F.col("doc_id").isNull(), 0),
            "text.min_length":  (F.length("text") < 5, 10),
        })
        ok = gate.apply_batch(batch_df, epoch_id)

    Layout: ``<root>/epoch=N/`` (epoch data — visible ONLY via the
    pointer), ``<root>/PUBLISHED`` (the committed epoch-id set),
    ``<root>/_quarantine/epoch=N/`` + ``_quarantine.jsonl`` (withheld
    epochs and their counter values).
    """

    POINTER = "PUBLISHED"

    def __init__(self, root: str, expectations: dict[str, tuple[Column, int]]):
        if not expectations:
            raise ValueError("expectations must declare at least one rule")
        self.root = root
        self.expectations = dict(expectations)
        os.makedirs(os.path.join(root, "_quarantine"), exist_ok=True)

    # -- paths -------------------------------------------------------------

    def _pointer_path(self) -> str:
        return os.path.join(self.root, self.POINTER)

    def _epoch_dir(self, epoch_id: int) -> str:
        return os.path.join(self.root, f"epoch={epoch_id}")

    def _quarantine(self, epoch_id: int) -> str:
        return os.path.join(self.root, "_quarantine", f"epoch={epoch_id}")

    def published_epochs(self) -> list[int]:
        doc = read_pointer(self._pointer_path())
        return sorted(doc["epochs"]) if doc else []

    # -- the gate ----------------------------------------------------------

    def observed_df(self, df: DataFrame) -> tuple[DataFrame, Observation]:
        """Attach the expectation counters to ``df`` as an Observation —
        CASE-sum semantics (NULL predicate counts 0, the q203/ADVICE-r9
        rule), plus the checked-row count."""
        obs = Observation()
        aggs = [F.count(F.lit(1)).cast("long").alias("n_checked")] + [
            F.sum(F.when(pred, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias(name)
            for name, (pred, _) in self.expectations.items()
        ]
        return df.observe(obs, *aggs), obs

    def apply_batch(self, batch: DataFrame, epoch_id: int) -> bool:
        """Write ``batch`` with inline counters, then publish (pointer
        commit) or quarantine. Returns True iff the epoch is published
        (or already was). Safe under foreachBatch replay."""
        published = set(self.published_epochs())
        if epoch_id in published:
            return True  # crash-after-commit replay: already published
        if os.path.exists(self._quarantine(epoch_id)):
            # crash-after-quarantine replay: already journaled — re-staging
            # would append a duplicate _quarantine.jsonl line (ADVICE r10).
            return False
        observed, obs = self.observed_df(batch)
        epoch_dir = self._epoch_dir(epoch_id)
        observed.write.mode("overwrite").parquet(epoch_dir)  # THE one pass
        got = obs.get
        violations = {
            name: int(got[name] or 0)
            for name, (_, limit) in self.expectations.items()
            if int(got[name] or 0) > limit
        }
        if not violations:
            commit_pointer(
                self._pointer_path(),
                {"epochs": sorted(published | {epoch_id}), "ts": time.time()},
            )
            return True
        qdir = self._quarantine(epoch_id)
        # Journal BEFORE the quarantine move (ADVICE r11): the replay
        # short-circuit above keys off the quarantine DIR, so the old
        # move-then-journal order had an unrepairable crash window — dir
        # renamed, journal line lost, replay short-circuits forever and
        # q208/quarantined_epochs() silently miss the epoch. With the
        # journal first, the symmetric window (line written, move lost)
        # replays into a re-stage + duplicate line, which the read side
        # dedupes by epoch; a quarantine dir can now never exist without
        # its journal record.
        with open(os.path.join(self.root, "_quarantine.jsonl"), "a") as f:
            # Leading newline: if a previous append was torn (crash
            # mid-write leaves a fragment with no terminator), this
            # record starts on its own line instead of concatenating
            # onto the fragment — the reader skips the fragment and the
            # repair record survives. Blank lines are skipped on read.
            f.write(
                "\n"
                + json.dumps(
                    {
                        "epoch": epoch_id,
                        "n_checked": int(got["n_checked"] or 0),
                        "violations": violations,
                        "limits": {
                            n: lim for n, (_, lim) in self.expectations.items()
                        },
                        "ts": time.time(),
                    }
                )
                + "\n"
            )
        if os.path.exists(qdir):
            shutil.rmtree(qdir)
        os.rename(epoch_dir, qdir)  # diagnostic move — not reader-visible
        return False

    # -- read side ---------------------------------------------------------

    def published(self, spark) -> DataFrame:
        """All published epochs — resolved through the pointer, so a
        crashed (orphaned, uncommitted) epoch dir never surfaces here."""
        epochs = self.published_epochs()
        if not epochs:
            raise FileNotFoundError(
                f"no published epochs under {self.root} "
                f"(rules: {sorted(self.expectations)})"
            )
        dirs = [self._epoch_dir(e) for e in epochs]
        return spark.read.option("basePath", self.root).parquet(*dirs)

    def quarantined_epochs(self) -> list[dict]:
        """The quarantine journal, deduped by epoch (last line wins — a
        crash between the journal append and the quarantine move makes
        replay re-stage and re-journal the epoch; reporting must not
        double-count). Unparsable lines are SKIPPED, not raised: the
        journal append is the crash-safety keystone since the r12
        reorder, and a torn write (power loss mid-append leaves a
        fragment the repair line then concatenates onto) must degrade to
        one lost-then-repaired record, never poison the whole journal —
        every complete record for an epoch supersedes any fragment."""
        path = os.path.join(self.root, "_quarantine.jsonl")
        if not os.path.exists(path):
            return []
        by_epoch: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue  # torn fragment — superseded by the replay line
                by_epoch[int(rec["epoch"])] = rec
        return [by_epoch[e] for e in sorted(by_epoch)]


# --- q208: quarantine triage (round 11, VERDICT r10 item 8) -------------------
# The operational readout a data-quality gate exists to feed: which epochs
# were withheld, on which rules, by how much. Everything below is bounded
# metadata — the journal is one line per quarantined epoch.

#: Deterministic triage fixture: 4 epochs (doc_id % 4) gated by three
#: rules whose violation density is epoch-dependent BY CONSTRUCTION —
#: doc_id % 16 < 2 hits only epochs 0 and 1 (residues 0,1 mod 4);
#: doc_id % 32 == 18 hits only epoch 2 — so at EVERY scale factor the
#: matrix shows epochs 0/1/2 quarantined on different rules and epoch 3
#: published, with a clean (never-exceeded) rule riding along.
Q208_EPOCHS = 4

#: text.min_words tolerance: a FRACTION of the corpus (1/20 of the full
#: table = 1/5 of an epoch's rows), floored at 50 — the violation count
#: it bounds is corpus-proportional, so a fixed absolute limit would trip
#: at some scale factor even though the fixture's planted densities never
#: change (ADVICE r11). Integer arithmetic both engines.
Q208_MINW_FLOOR = 50
Q208_MINW_DIV = 20

Q208_SQL = f"""
WITH lim AS (
  SELECT GREATEST({Q208_MINW_FLOOR},
                  CAST(COUNT(*) // {Q208_MINW_DIV} AS BIGINT)) AS minw_limit
  FROM documents
),
rows_ AS (
  SELECT CAST(doc_id % 4 AS BIGINT) AS epoch,
         CASE WHEN doc_id % 16 < 2 THEN 1 ELSE 0 END AS v_mod16,
         CASE WHEN doc_id % 32 = 18 THEN 1 ELSE 0 END AS v_mod32,
         CASE WHEN LEN(string_split(text, ' ')) < 5 THEN 1 ELSE 0 END AS v_minw
  FROM documents
),
agg AS (
  SELECT epoch, CAST(COUNT(*) AS BIGINT) AS n_checked,
         CAST(SUM(v_mod16) AS BIGINT) AS viol_mod16,
         CAST(SUM(v_mod32) AS BIGINT) AS viol_mod32,
         CAST(SUM(v_minw) AS BIGINT) AS viol_minw
  FROM rows_ GROUP BY epoch
),
quarantined AS (
  SELECT agg.*, lim.minw_limit FROM agg CROSS JOIN lim
  WHERE viol_mod16 > 0 OR viol_mod32 > 0 OR viol_minw > lim.minw_limit
),
matrix AS (
  SELECT epoch, 'planted.mod16' AS rule, n_checked,
         viol_mod16 AS n_violations, CAST(0 AS BIGINT) AS violation_limit
  FROM quarantined WHERE viol_mod16 > 0
  UNION ALL
  SELECT epoch, 'planted.mod32_18', n_checked, viol_mod32, CAST(0 AS BIGINT)
  FROM quarantined WHERE viol_mod32 > 0
  UNION ALL
  SELECT epoch, 'text.min_words', n_checked, viol_minw, minw_limit
  FROM quarantined WHERE viol_minw > minw_limit
)
SELECT epoch, rule, n_checked, n_violations, violation_limit,
       n_violations - violation_limit AS over_by
FROM matrix
ORDER BY epoch, rule
"""


def _register_q208() -> None:
    from ..registry import register

    @register("q208_quarantine_triage", Q208_SQL)
    def q208_quarantine_triage(spark, sf_dir: str) -> DataFrame:
        """End-to-end quarantine triage (round 11): run the observe-gated
        writer over a deterministic 4-epoch split of the documents
        corpus, then read ``_quarantine.jsonl`` back into the
        violated-rule × epoch matrix — rule, violations vs limit, and
        how far over — the readout an on-call data-quality owner pages
        on. Violation densities are epoch-dependent by construction
        (see Q208_EPOCHS note), so epochs 0/1/2 quarantine on DIFFERENT
        rules and epoch 3 publishes, at every scale factor.

        The oracle replays the gate arithmetic in SQL (the journal is a
        pure function of the corpus), so the driver hash-verifies the
        whole loop: CollectMetrics counters → threshold gate →
        quarantine journal → triage matrix.

        Scale: the gated writes are the corpus pass the pipeline pays
        anyway (counters ride them — zero extra passes); the triage
        itself reads ONE jsonl line per quarantined epoch (bounded
        metadata, the consumer-watermark class) and never touches the
        quarantined parquet payloads."""
        from ..catalog import load_table
        from ..sources.ingest import _scratch

        root = _scratch("q208_gate_")
        shutil.rmtree(root, ignore_errors=True)
        # min_words tolerance scales with the corpus (bounded 1-row count;
        # see Q208_MINW_FLOOR note): the violation count it bounds is
        # corpus-proportional, so the fixture's "epoch 3 publishes" claim
        # holds at EVERY scale factor, not just the measured ones.
        n_docs = load_table(spark, sf_dir, "documents").count()
        minw_limit = max(Q208_MINW_FLOOR, n_docs // Q208_MINW_DIV)
        rules = {
            "planted.mod16": (F.col("doc_id") % 16 < 2, 0),
            "planted.mod32_18": (F.col("doc_id") % 32 == 18, 0),
            "text.min_words": (F.size(F.split("text", " ")) < 5, minw_limit),
        }
        gate = GatedEpochWriter(root, rules)
        d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        for epoch in range(Q208_EPOCHS):
            gate.apply_batch(d.filter(F.col("doc_id") % Q208_EPOCHS == epoch), epoch)
        # The journal is one line per quarantined epoch — driver-side read
        # of bounded metadata (Spark's own scan would skip it anyway:
        # Hadoop path filters hide _-prefixed files).
        rows = [
            (
                int(rec["epoch"]),
                rule,
                int(rec["n_checked"]),
                int(n),
                int(rec["limits"][rule]),
            )
            for rec in gate.quarantined_epochs()
            for rule, n in sorted(rec["violations"].items())
        ]
        journal = spark.createDataFrame(
            rows,
            "epoch long, rule string, n_checked long, "
            "n_violations long, violation_limit long",
        )
        return journal.withColumn(
            "over_by",
            (F.col("n_violations") - F.col("violation_limit")).cast("long"),
        ).orderBy("epoch", "rule")


_register_q208()
