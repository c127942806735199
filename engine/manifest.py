"""Snapshot/commit/resume primitives — Iceberg-style semantics over parquet.

Mirrors the reference's job-queue status machine and idempotency guards:

  reference (emop-controller [U])                 here
  ---------------------------------------------  ------------------------------
  dashboard job_queues row per (batch, page)      manifest row per partition
  reserve N pages → proc_id                       stamp run_id, status=pending
  EmopRun refuses to rerun if output payload      run skips partitions already
    exists (emop/lib/emop_run.py :: run)            present in committed lineage
  payload output JSON single-file write           per-wave parquet write +
    = the commit                                    atomic manifest rename
  completed/ → uploaded/ rename                   status pending→committed flip

Why not real Iceberg: no Iceberg runtime jar ships in this sandbox
(SURVEY.md §8 hard parts), so the snapshot commit is a write-temp +
os.replace() of `manifest.json` — the same atomic-visibility contract an
Iceberg snapshot commit provides. The layout keeps table paths and a
`writeTo`-shaped API so a real catalog can be dropped in.

Run directory layout — RunManifest is the one owner of every name below;
callers ask it for paths and never compose them:

  {root}/{run_id}/
    manifest.json                 # atomic snapshot: per-partition status,
                                  #   plus the active-table pointer
    staged/                       # keyed input, partitioned by partition_id
      partition_id=K/*.parquet    #   (written once, one file per partition;
                                  #   waves prune to their dirs)
    staged.tmp/                   # staging in flight (atomic rename → staged/)
    extracted/                    # output parquet, partitioned by partition_id
      partition_id=K/*.parquet
    extracted.gen-NNNN/           # compaction generations; the manifest's
                                  #   `extracted_dir` pointer names the active
                                  #   one ("extracted" until the first compact)
    extracted_retry/              # retry attempts (attempt column in data).
                                  #   Fixed name: it does NOT follow the
                                  #   generation pointer, so compaction never
                                  #   orphans an attempt
    extracted.gen-NNNN_retry/     # legacy: older code's overlay after a
                                  #   compaction; reads refuse while one
                                  #   exists (move its rows into the above)
    increment_input/              # an increment run's anti-joined input
                                  #   (+ _increment_meta.json: its base runs)
    lineage/wave-NNNNN.parquet/   # per-partition lineage rows of a wave
    lineage/retry-NNN.parquet/    #   or of a retry attempt, each dir
      part-00000.parquet          #   one file the driver publishes
      .part-00000.parquet.tmp     #   (temp, fsync, rename); a retry dir is
                                  #   claimed (mkdir) before its attempt
                                  #   writes, so an empty one is a burned
                                  #   attempt (its overlay rows, if any,
                                  #   are not in the current view)
  {root}/.{run_id}.input.tmp/     # increment input in flight (renamed into
                                  #   the run dir once the manifest exists)
"""

from __future__ import annotations

import datetime as dt
import json
import os
import pathlib
import re
import shutil
import uuid

_MANIFEST = "manifest.json"
_BASE = "extracted"
# the one definition of a compaction generation's name (full match)
_GENERATION = re.compile(r"extracted\.gen-(\d+)")
# where code before the fixed overlay name put the retry attempts of a
# compacted run: the active generation's name + "_retry" (full match)
_LEGACY_RETRY = re.compile(r"extracted\.gen-\d+_retry")
_INCREMENT_META = "_increment_meta.json"


class RunManifest:
    """Driver-side manifest table for one run (the scheduler-daemon analog)."""

    def __init__(self, root: str, run_id: str):
        self.root = pathlib.Path(root)
        self.run_id = run_id
        self.dir = self.root / run_id
        self.path = self.dir / _MANIFEST

    # ---------------------------------------------------------------- create
    @classmethod
    def create(
        cls,
        root: str,
        n_partitions: int,
        total_bytes: int,
        run_id: str | None = None,
        force: bool = False,
        sink_table: str | None = None,
    ) -> "RunManifest":
        """Reserve step (Q2): one pending row per partition, one commit.

        Refuses to re-create an existing run: silently resetting every
        partition to pending while extracted/ and lineage/ persist would
        make a re-run append duplicates of all committed rows. `force=True`
        is the explicit override — it also clears the run's data dirs so
        the reset is consistent."""
        run_id = run_id or new_run_id()
        m = cls(root, run_id)
        m.refuse_existing(force)
        if m.path.exists():
            for path in (
                m.base_path, m.retry_path, m.staged_path, m.staged_tmp_path,
                m.lineage_dir, *m.generation_paths(),
            ):
                shutil.rmtree(path, ignore_errors=True)
        m.lineage_dir.mkdir(parents=True, exist_ok=True)
        state = {
            "run_id": run_id,
            "n_partitions": n_partitions,
            "total_bytes": total_bytes,
            "created_at": _now(),
            "partitions": {
                str(p): {"status": "pending", "attempt": 0, "committed_at": None}
                for p in range(n_partitions)
            },
        }
        if sink_table:
            # where this run's extracted base LIVES is a property of the
            # RUN, not of whatever session later reads it — recording it
            # here is what lets every verb route without (and validated
            # against) live session conf
            state["sink_table"] = sink_table
        m._commit(state)
        return m

    def refuse_existing(self, force: bool) -> None:
        """Raise FileExistsError if this run already has a manifest,
        unless `force` asks for the reset."""
        if self.path.exists() and not force:
            raise FileExistsError(
                f"run {self.run_id} already has a manifest under "
                f"{self.root}; load it to resume, or pass force=True to "
                "reset (clears extracted/, staged/ and lineage/)"
            )

    @classmethod
    def load(cls, root: str, run_id: str) -> "RunManifest":
        m = cls(root, run_id)
        if not m.path.exists():
            raise FileNotFoundError(f"no manifest for run {run_id} under {root}")
        return m

    @classmethod
    def run_ids(cls, root: str) -> list[str]:
        """Every run under `root` that has a manifest file (readable or
        not)."""
        return sorted(
            p.parent.name for p in pathlib.Path(root).glob(f"*/{_MANIFEST}")
        )

    # ---------------------------------------------------------------- state
    def state(self) -> dict:
        return json.loads(self.path.read_text())

    def pending_partitions(self) -> list[int]:
        """Q1 query-pending analog (emop/lib/emop_query.py [U])."""
        st = self.state()
        return sorted(
            int(p)
            for p, v in st["partitions"].items()
            if v["status"] != "committed"
        )

    def committed_partitions(self) -> list[int]:
        st = self.state()
        return sorted(
            int(p)
            for p, v in st["partitions"].items()
            if v["status"] == "committed"
        )

    def is_complete(self) -> bool:
        return not self.pending_partitions()

    @property
    def sink_table(self) -> str | None:
        """Catalog table recorded at enqueue time (engine/catalog.py), or
        None for the parquet-path run (incl. every pre-seam manifest)."""
        return self.state().get("sink_table")

    # ---------------------------------------------------------------- commit
    def commit_partitions(self, partition_ids: list[int]) -> None:
        """Flip pending→committed for a wave, in ONE atomic snapshot swap."""
        st = self.state()
        now = _now()
        for p in partition_ids:
            row = st["partitions"][str(p)]
            row["status"] = "committed"
            row["attempt"] += 1
            row["committed_at"] = now
        self._commit(st)

    def _commit(self, state: dict) -> None:
        """Atomic snapshot publish: write temp, fsync, rename over."""
        tmp = self.path.with_suffix(".json.tmp")
        data = json.dumps(state, indent=1, sort_keys=True)
        with open(tmp, "w") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.path)

    # ---------------------------------------------------------------- paths
    def _at(self, name: str) -> str:
        return str(self.dir / name)

    @property
    def extracted_path(self) -> str:
        """The ACTIVE extracted table, resolved through the manifest's
        `extracted_dir` pointer (default "extracted"). compact_run
        publishes a rewritten table by flipping this pointer in one
        atomic manifest commit — the Iceberg-snapshot analog — so there
        is no instant at which the run has no readable table (the old
        two-rename swap had one)."""
        return self._at(self.state().get("extracted_dir", _BASE))

    @property
    def base_path(self) -> str:
        """The plain base table dir: active until the first compaction,
        that compaction's superseded leftover after it."""
        return self._at(_BASE)

    def set_extracted_dir(self, name: str) -> None:
        """Atomically flip the active-table pointer (THE compact commit).

        Only "extracted" or a compaction generation is a legal target:
        pointing at a recovery artifact like extracted.pre_compact would
        make it vacuum_run's active-vs-stale classification problem (and
        a later vacuum could have deleted the only copy). To recover a
        legacy backup, rename it to a FRESH extracted.gen-* name (not the
        plain 'extracted' name: when the active pointer is a generation,
        vacuum classifies a plain 'extracted' dir as the first
        compaction's crash leftover and expires it — restoring under
        that name races any concurrent vacuum)."""
        if not (name == _BASE or _GENERATION.fullmatch(name)):
            raise ValueError(
                f"not a legal extracted dir name: {name!r} (use 'extracted' "
                "or 'extracted.gen-NNNN'; restore recovery artifacts under "
                "a fresh extracted.gen-* name first)"
            )
        st = self.state()
        st["extracted_dir"] = name
        self._commit(st)

    def generation_paths(self) -> list[str]:
        """Every compaction generation dir on disk, active or not."""
        return sorted(
            str(p) for p in self.dir.glob("extracted.gen-*")
            if _GENERATION.fullmatch(p.name)
        )

    def next_generation_path(self) -> str:
        """Where compact_run writes the generation after the active one."""
        m = _GENERATION.fullmatch(os.path.basename(self.extracted_path))
        return self._at(f"extracted.gen-{int(m[1]) + 1 if m else 1:04d}")

    def expirable_paths(self) -> list[str]:
        """Side-car artifacts a completed run no longer needs: staged
        input leftovers, the increment's recorded input, and the legacy
        (pre-pointer) compaction's backup and temp dirs."""
        return [
            self.staged_path, self.staged_tmp_path, self.increment_input_path,
            self._at("extracted.pre_compact"), self._at("extracted.compact_tmp"),
        ]

    @property
    def retry_path(self) -> str:
        """The retry overlay (attempt >= 1 rows). One fixed dir whatever
        the active generation is: compaction rewrites only the base, so
        the overlay must not follow the pointer."""
        return self._at("extracted_retry")

    def legacy_retry_paths(self) -> list[str]:
        """Retry overlays that code before the fixed `retry_path` wrote
        after a compaction (`extracted.gen-NNNN_retry/`). Nothing reads
        them: their rows belong in `retry_path`."""
        return sorted(
            str(p) for p in self.dir.glob("extracted.gen-*_retry")
            if _LEGACY_RETRY.fullmatch(p.name)
        )

    @property
    def staged_path(self) -> str:
        """Keyed input staged once, partitionBy(partition_id) with one file
        per partition, so waves read only their own partition directories
        and run one task per partition."""
        return self._at("staged")

    @property
    def staged_tmp_path(self) -> str:
        return self._at("staged.tmp")

    @property
    def increment_input_path(self) -> str:
        return self._at("increment_input")

    @property
    def increment_tmp_path(self) -> str:
        """Outside the run dir: the increment's input is written before
        its manifest (and so its run dir) exists."""
        return str(self.root / f".{self.run_id}.input.tmp")

    def record_increment_bases(self, base_run_ids: list[str]) -> None:
        """Record the base set next to the in-flight increment input
        (underscore-prefixed: parquet readers ignore it)."""
        pathlib.Path(self.increment_tmp_path, _INCREMENT_META).write_text(
            json.dumps({"base_run_ids": sorted(base_run_ids)})
        )

    def increment_bases(self) -> list[str] | None:
        """The base set the published increment input was anti-joined
        against, or None when it carries no record."""
        meta = pathlib.Path(self.increment_input_path, _INCREMENT_META)
        if not meta.exists():
            return None
        return sorted(json.loads(meta.read_text())["base_run_ids"])

    @property
    def lineage_dir(self) -> pathlib.Path:
        return self.dir / "lineage"

    def lineage_files(self) -> list[str]:
        return sorted(str(p) for p in self.lineage_dir.glob("*.parquet"))

    @staticmethod
    def wave_lineage_name(wave: int) -> str:
        """A wave's lineage name, keyed by its first partition id."""
        return f"wave-{wave:05d}"

    @staticmethod
    def retry_lineage_name(attempt: int) -> str:
        return f"retry-{attempt:03d}"

    def lineage_path(self, name: str) -> str:
        """The lineage dir of `name` (`wave_lineage_name` or
        `retry_lineage_name`)."""
        return str(self.lineage_dir / f"{name}.parquet")

    def lineage_file(self, name: str) -> str:
        """The one data file of a lineage dir, which the driver publishes
        (`publish_lineage`)."""
        return os.path.join(self.lineage_path(name), "part-00000.parquet")

    def lineage_tmp_file(self, name: str) -> str:
        """A lineage file in flight; dot-prefixed, so parquet readers skip
        one a kill left behind."""
        return os.path.join(self.lineage_path(name), ".part-00000.parquet.tmp")

    def publish_lineage(self, name: str, write) -> None:
        """Publish a lineage file the way `_commit` publishes manifest.json:
        `write(f)` fills the temp file, fsync, one rename. Whatever else the
        lineage dir holds (an orphan a killed wave left, also one a Spark
        writer named) is removed before the rename, so the dir ends up
        holding exactly this file."""
        tmp = self.lineage_tmp_file(name)
        final = self.lineage_file(name)
        os.makedirs(os.path.dirname(tmp), exist_ok=True)
        with open(tmp, "wb") as f:
            write(f)
            f.flush()
            os.fsync(f.fileno())
        for entry in os.scandir(os.path.dirname(tmp)):
            if entry.path not in (tmp, final):
                if entry.is_dir(follow_symlinks=False):
                    shutil.rmtree(entry.path)
                else:
                    os.remove(entry.path)
        os.replace(tmp, final)

    def _retry_lineage_dirs(self) -> dict[int, pathlib.Path]:
        return {
            int(p.stem.split("-")[1]): p
            for p in self.lineage_dir.glob("retry-*.parquet")
        }

    def next_retry_attempt(self) -> int:
        """The attempt number after every retry lineage dir on disk. A dir
        is claimed before its attempt writes (`claim_retry_attempt`), so
        numbers increase monotonically, every attempt keeps its own audit
        rows and the latest-attempt window in read_current_extracted is
        total-ordered."""
        return 1 + max(self._retry_lineage_dirs(), default=0)

    def burned_retry_attempts(self) -> list[int]:
        """Claimed attempts whose lineage dir holds no parquet file: killed
        before their lineage publish, perhaps after their overlay write.
        No lineage row counts their overlay rows, so the current view
        leaves those rows out. A dir Spark wrote (part-*.parquet) counts
        as published."""
        return sorted(
            attempt for attempt, p in self._retry_lineage_dirs().items()
            if not any(p.glob("*.parquet"))
        )

    def claim_retry_attempt(self) -> int:
        """Take the next attempt number by creating its lineage dir (an
        existing dir raises): an attempt killed after its claim has burned
        its number, and its lineage dir reads as zero rows."""
        attempt = self.next_retry_attempt()
        os.mkdir(self.lineage_path(self.retry_lineage_name(attempt)))
        return attempt


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def _now() -> str:
    return dt.datetime.now(dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%fZ")
