"""Object-store-safe pointer commit for durable operator state.

Staged directory swaps (write ``X.staging``, ``os.rename`` over ``X``)
are atomic on POSIX and HDFS but NOT on S3/GCS: object stores have no
rename — "rename" is copy+delete per key, and a reader listing the
prefix mid-swap sees a half-moved directory. Worse, the two-rename swap
(``X`` → ``X.old``, ``X.staging`` → ``X``) has a crash window in which
NO live directory exists at all. The protocol every cloud table format
uses instead (Iceberg/Delta/Hudi snapshot commits) is generation
directories plus an atomically-swapped pointer object:

    root/
      CURRENT          tiny JSON {"gen": N, ...meta} — single-object swap
      gen=N/...        immutable; fully written BEFORE the pointer moves
      gen=M/...        older generations, garbage-collected lazily

Writers stage a complete new generation directory, then commit by
replacing ``CURRENT`` (``os.replace`` locally — atomic; a single PUT on
an object store — atomic to readers, which see either the old or the new
object). Readers resolve ``CURRENT`` once per read and therefore only
ever observe a fully-written generation. Crash before commit: an orphan
generation dir, removed by the next ``cleanup()``. Crash after commit:
a stale old generation dir, ditto. No reader-visible partial state in
either window.

The pointer also carries operator metadata (``meta``) so state that must
move WITH the data moves in the SAME atomic step — e.g. the matview's
folded-epoch set commits together with the folded base (the old
swap-then-write-manifest order had a crash window that double-counted
folded epochs), and the heavy-hitter sketch's lossy-reduce budget counts
atomically with the compaction that spends it.

Single-writer discipline: like the reference's Redis server (one id
assigner) and every table-format commit protocol without a lock service,
concurrent committers can race CURRENT; run maintenance from the state
owner, between drains.
"""

from __future__ import annotations

import json
import os
import shutil


def commit_pointer(path: str, payload: dict) -> None:
    """Atomically replace the pointer object at ``path`` with ``payload``.

    Local filesystems: write-temp + ``os.replace`` (atomic). Object
    stores: this maps to a single small PUT of the pointer key — the one
    operation S3/GCS make atomic for readers. The primitive behind every
    durable-state commit in the engine (GenerationState, and the
    GatedEpochWriter's published-epoch set)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def read_pointer(path: str) -> dict | None:
    """The committed pointer document, or None before first commit."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


class GenerationState:
    """Generation-directory layout with an atomically-committed pointer."""

    POINTER = "CURRENT"

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- read side -------------------------------------------------------

    def _pointer_path(self) -> str:
        return os.path.join(self.root, self.POINTER)

    def pointer(self) -> dict | None:
        """The committed pointer document, or None before first commit."""
        return read_pointer(self._pointer_path())

    def meta(self) -> dict:
        """Operator metadata committed with the current generation."""
        doc = self.pointer()
        return {k: v for k, v in (doc or {}).items() if k != "gen"}

    def current_gen(self) -> int | None:
        doc = self.pointer()
        return None if doc is None else int(doc["gen"])

    def current_dir(self) -> str | None:
        """The live generation directory, or None before first commit."""
        gen = self.current_gen()
        return None if gen is None else self.gen_dir(gen)

    def gen_dir(self, gen: int) -> str:
        return os.path.join(self.root, f"gen={gen}")

    # -- write side ------------------------------------------------------

    def _existing_gens(self) -> list[int]:
        return sorted(
            int(name.split("=", 1)[1])
            for name in os.listdir(self.root)
            if name.startswith("gen=")
        )

    def stage(self) -> tuple[int, str]:
        """Allocate the next generation directory (uncommitted). The
        caller writes the COMPLETE new state into it, then calls
        ``commit``. Numbering skips past any orphaned stage dirs so a
        crashed writer's leftovers are never reused half-full."""
        gens = self._existing_gens()
        gen = (gens[-1] + 1) if gens else 0
        path = self.gen_dir(gen)
        os.makedirs(path, exist_ok=True)
        return gen, path

    def ensure_committed(self, **meta) -> str:
        """The live generation directory. If nothing is committed yet,
        stage and commit the first generation (with ``meta``) first."""
        if self.current_gen() is None:
            gen, _ = self.stage()
            self.commit(gen, **meta)
        return self.current_dir()

    def commit(self, gen: int, **meta) -> None:
        """Atomically flip the pointer to ``gen``, carrying ``meta``.

        Local filesystems: write-temp + ``os.replace`` (atomic). Object
        stores: this maps to a single small PUT of the pointer key —
        the one operation S3/GCS make atomic for readers.
        """
        commit_pointer(self._pointer_path(), {"gen": gen, **meta})

    def cleanup(self, keep: set[int] | None = None) -> int:
        """Remove generation dirs that are neither current nor in
        ``keep`` (for states whose pointer references several gens, e.g.
        a per-cell manifest). Safe to call any time from the writer;
        retried implicitly on the next call if interrupted."""
        live = set(keep or ())
        cur = self.current_gen()
        if cur is not None:
            live.add(cur)
        removed = 0
        for gen in self._existing_gens():
            if gen not in live:
                shutil.rmtree(self.gen_dir(gen), ignore_errors=True)
                removed += 1
        return removed
