"""Checkpoint manifest = per-partition lineage (Iceberg-style, hand-rolled).

No Iceberg runtime jar is available in this sandbox (SURVEY.md §7.1), so
the required commit-log semantics — exact resume, per-partition lineage,
atomic commits — are implemented as an Iceberg-style table layout:
partitioned parquet + a JSON commit log, with every commit written
temp-file-then-rename (atomic on POSIX). The API is narrow enough that a
real Iceberg catalog can be dropped in behind it unchanged.

Layout under <output_dir>/ (pipeline._run_groups writes it):
    data/group=<g>/part-*.parquet      scan layout: one dir per file group
    data/p_bucket=<b>/part-*.parquet   bucketed layout: one dir per bucket
    stage/p_bucket=<b>/part-*.parquet  bucketed layout while the job is
                                       not complete: its input, parsed
                                       once and bucketed, one file per
                                       bucket (deleted at completion)
    _manifest.json                     commit log: job_id, n_buckets (the
                                       key count), key_plan (what the
                                       keys mean: n_buckets=<n>:inputs=
                                       <digest> or file_groups=<n>:
                                       <digest>), stage_rows (bucket ->
                                       rows of the whole stage written
                                       under key_plan; absent when there
                                       is none) and, per committed key
                                       (group id / bucket id), n_rows,
                                       n_ok, n_failed, bytes_in, checksum

A key's entry IS its partition's lineage, aggregated by an Observation
on the rows of the write that produced them (pipeline._observe_entries),
never by reading the output back; there is no separate lineage/ table
(Iceberg likewise keeps record counts in its manifests). Per-input-file
provenance is the ``src_file`` column of every scan-layout row.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
import time


class KeyPlanMismatch(ValueError):
    """A run's key plan differs from the one its job recorded."""


class Manifest:
    # one lock for every Manifest of the process: a commit is a
    # load-modify-rename of the whole file, so two unserialized commits
    # (concurrent commit groups, or a replay beside a job) lose entries
    _lock = threading.Lock()

    def __init__(self, output_dir: str, job_id: str):
        self.output_dir = output_dir
        self.job_id = job_id
        self.path = os.path.join(output_dir, "_manifest.json")

    # -- read ----------------------------------------------------------------
    def load(self) -> dict:
        if not os.path.exists(self.path):
            return {"job_id": self.job_id, "n_buckets": None,
                    "committed": {}}
        with open(self.path) as f:
            state = json.load(f)
        return state

    def committed_buckets(self) -> set[int]:
        state = self.load()
        if state.get("job_id") != self.job_id:
            return set()
        return {int(b) for b in state["committed"]}

    def stage_rows(self, key_plan: str) -> dict[int, int] | None:
        """The per-bucket row counts of this job's staged input if a
        whole stage is recorded under ``key_plan``, else None."""
        state = self.load()
        rows = state.get("stage_rows")
        if state.get("job_id") != self.job_id \
                or state.get("key_plan") != key_plan or rows is None:
            return None
        return {int(b): n for b, n in rows.items()}

    def check_plan(self, key_plan: str) -> None:
        """Raise if this job committed keys under another key plan: a
        key (bucket or file-group id) then names other rows, so resuming
        would duplicate and lose rows, and a rerun would leave stale data
        dirs of the old plan behind. A plan recorded with a stage alone
        (no key committed) does not bind: the run restages."""
        state = self.load()
        old = state.get("key_plan")
        if state.get("job_id") == self.job_id and state["committed"] \
                and old not in (None, key_plan):
            raise KeyPlanMismatch(
                f"job {self.job_id!r} in {self.output_dir} was planned "
                f"as {old}, this run plans {key_plan}; use a new job id "
                f"or output dir")

    # -- write (atomic: temp + rename; idempotent per bucket) -----------------
    def _update(self, n_buckets: int, key_plan: str, change) -> None:
        """Load, set the plan, apply ``change(state)`` and rename the
        result into place, under the class lock."""
        with self._lock:
            state = self.load()
            if state.get("job_id") != self.job_id:
                state = {"job_id": self.job_id, "committed": {}}
            state["n_buckets"] = n_buckets
            state["key_plan"] = key_plan
            change(state)
            os.makedirs(self.output_dir, exist_ok=True)
            fd, tmp = tempfile.mkstemp(dir=self.output_dir,
                                       prefix="_manifest.", suffix=".tmp")
            try:
                with os.fdopen(fd, "w") as f:
                    json.dump(state, f, indent=1, sort_keys=True)
                os.replace(tmp, self.path)  # atomic commit
            finally:
                if os.path.exists(tmp):
                    os.unlink(tmp)

    def record_stage(self, key_plan: str, n_buckets: int,
                     rows: dict[int, int] | None) -> None:
        """Record the staged input of ``key_plan`` (bucket -> row count),
        or with None, that there is no whole stage. Committed entries
        are kept."""
        def change(state: dict) -> None:
            state.pop("stage_rows", None)
            if rows is not None:
                state["stage_rows"] = {str(b): n for b, n in rows.items()}
        self._update(n_buckets, key_plan, change)

    def commit(self, buckets: dict[int, dict], n_buckets: int,
               key_plan: str) -> None:
        """Record buckets as done. bucket → {n_rows, n_ok, n_failed,
        bytes_in, checksum}. Re-committing a bucket overwrites its entry
        (idempotent for resume-after-partial-write). Thread-safe: commits
        are serialized by the class lock."""
        def change(state: dict) -> None:
            for b, info in buckets.items():
                state["committed"][str(b)] = {**info,
                                              "committed_at": time.time()}
        self._update(n_buckets, key_plan, change)

    def is_complete(self) -> bool:
        state = self.load()
        n = state.get("n_buckets")
        return (state.get("job_id") == self.job_id and n is not None
                and len(state["committed"]) >= n)
