"""Versioned state behind one pointer file: the protocol every streaming
maintainer shares.

A maintainer's state is a set of immutable directories (``cells_v3``,
``docs_b7``, ...) plus one small JSON pointer (``_CURRENT``) naming the
committed version, the batch-id watermark, the geometry the state was
built with and any manifest the class keeps. Each tick writes its new
directories first and commits by replacing the pointer, so a crash at
any point leaves the previous committed state visible and at worst some
orphan directories that the replayed tick overwrites.

This module owns every piece of that protocol:

- **read** (``PointerState._recover``): a pointer that is not valid
  JSON, or lacks a field every commit writes, is refused, and so is a
  pointer whose geometry differs from the constructor's;
- **lost pointer**: committed state directories with no pointer are
  refused by default. A class may adopt the newest finished version
  instead, but only where re-merging a redelivered batch is idempotent,
  since the watermark dies with the pointer;
- **commit** (``commit_pointer``): temp write + fsync, ``os.replace``,
  then fsync of the parent directory, so the rename is durable as well
  as atomic. A fresh state commits its empty pointer at open, so a crash
  inside the first tick is a replay, not an orphan to refuse;
- **watermark** (``_already_merged``): foreachBatch is at-least-once;
  batch ids at or below the committed one are no-ops;
- **checkpoint bind** (``bind_checkpoint``): the watermark belongs to one
  streaming checkpoint identity (``ckptid.py``), recorded on first use;
- **drain** (``drain_available_now``) and **vacuum** of superseded
  ``<state>_v<N>`` directories.
"""

from __future__ import annotations

import copy
import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def commit_pointer(path: str, payload) -> None:
    """Durably replace the pointer file at ``path`` with ``payload`` as
    JSON: write and fsync a temp file, rename it over the pointer, then
    fsync the parent directory so the rename survives a power loss."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    fd = os.open(os.path.dirname(os.path.abspath(path)), os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def drain_available_now(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType | str,
    checkpoint_dir: str,
    fold,
    source_format: str = "parquet",
    **read_options,
) -> None:
    """Run ``fold(batch_df, batch_id)`` over every file in ``source_dir``
    the checkpoint has not seen yet, then stop (the availableNow
    trigger: the cron-style drain)."""
    stream = (
        spark.readStream.format(source_format)
        .schema(schema)
        .options(**read_options)
        .load(source_dir)
    )
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


class PointerState:
    """State identified by one JSON pointer file under ``base_dir``.

    Subclasses declare ``_POINTER`` (file name), ``_KIND`` (the noun
    errors use), ``_FRESH`` (the pointer of an empty state; every key is
    required in a reopened pointer), ``_geometry()`` (fields recorded at
    first commit and compared on every reopen) and ``_orphans()``
    (committed state that exists without a pointer)."""

    _POINTER = "_CURRENT"
    _KIND = "maintainer"
    _FRESH: dict = {}

    def _open(self, base_dir: str) -> None:
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self._meta = self._recover()
        if not os.path.exists(self._pointer_path()):
            self._commit()

    def _pointer_path(self) -> str:
        return os.path.join(self.base_dir, self._POINTER)

    def _geometry(self) -> dict:
        return {}

    def _orphans(self) -> list[str]:
        return []

    def _fresh(self) -> dict:
        return {**copy.deepcopy(self._FRESH), **self._geometry()}

    def _refuse(self, what: str) -> ValueError:
        return ValueError(
            f"{what}; the watermark, geometry and manifest live only in "
            "the pointer. Restore the pointer from backup or rebuild in a "
            "fresh base_dir."
        )

    def _recover(self) -> dict:
        try:
            with open(self._pointer_path()) as f:
                text = f.read()
        except FileNotFoundError:
            return self._without_pointer()
        where = f"{self._POINTER} pointer at {self.base_dir}"
        try:
            meta = json.loads(text)
        except json.JSONDecodeError as e:
            raise self._refuse(f"corrupt {where} (invalid JSON: {e})") from e
        if not isinstance(meta, dict):
            raise self._refuse(f"corrupt {where} (not a JSON object)")
        for key in self._FRESH:
            if key not in meta:
                raise self._refuse(
                    f"corrupt {where} (no {key!r} field — truncated or "
                    "foreign write)"
                )
        want = self._geometry()
        got = {k: meta.get(k) for k in want}
        if got != want:
            raise ValueError(
                f"{self._KIND} geometry mismatch: state at {self.base_dir} "
                f"was built with {got} but this maintainer was opened with "
                f"{want}; merging into state of another geometry is silent "
                "garbage. Reopen with the recorded geometry or rebuild in "
                "a fresh base_dir."
            )
        return meta

    def _without_pointer(self) -> dict:
        """The state to open when the pointer is missing: empty, unless
        committed state exists, which is refused (the watermark died
        with the pointer). Classes whose re-merge is idempotent may
        override this to adopt instead."""
        orphaned = self._orphans()
        if orphaned:
            raise self._refuse(
                f"{self._KIND} state at {self.base_dir} has committed dirs "
                f"({orphaned}) but no {self._POINTER} pointer, so it cannot "
                "be safely adopted"
            )
        return self._fresh()

    def _commit(self, **fields) -> None:
        meta = {**self._meta, **fields}
        commit_pointer(self._pointer_path(), meta)
        self._meta = meta


class VersionedState(PointerState):
    """A maintainer's versioned state: version counter, batch-id
    watermark and checkpoint identity in the pointer, plus the
    foreachBatch glue. Where the state is a chain of ``<_STATE_NAME>_v<N>``
    directories, those are its committed content and what
    ``vacuum_versions`` drops."""

    _FRESH = {"version": 0, "last_batch_id": None, "checkpoint_token": None}
    _STATE_NAME: str | None = None
    _ORPHANS: str | None = None  # regex of committed dirs, if not the chain
    _MARKER = "_SUCCESS"  # a committed dir holds this path

    def _open(self, spark: SparkSession, base_dir: str) -> None:
        self.spark = spark
        super()._open(base_dir)

    @property
    def version(self) -> int:
        return int(self._meta["version"])

    @property
    def _last_batch_id(self) -> int | None:
        return self._meta["last_batch_id"]

    @property
    def _checkpoint_token(self) -> str | None:
        return self._meta["checkpoint_token"]

    # --- the <state>_v<N> chain ---------------------------------------------

    def _state_path(self, version: int) -> str:
        return os.path.join(self.base_dir, f"{self._STATE_NAME}_v{version}")

    def _read_state(self) -> DataFrame | None:
        if self.version == 0:
            return None
        return self.spark.read.parquet(self._state_path(self.version))

    def _chain(self) -> dict[int, str]:
        if self._STATE_NAME is None:
            return {}
        pat = re.compile(rf"^{re.escape(self._STATE_NAME)}_v(\d+)$")
        return {
            int(m.group(1)): n
            for n in os.listdir(self.base_dir)
            if (m := pat.match(n))
        }

    def _committed(self, name: str) -> bool:
        return os.path.exists(os.path.join(self.base_dir, name, self._MARKER))

    def _orphans(self) -> list[str]:
        if self._ORPHANS is None:
            names = self._chain().values()
        else:
            names = [
                n for n in os.listdir(self.base_dir) if re.match(self._ORPHANS, n)
            ]
        return sorted(n for n in names if self._committed(n))

    def _latest_version(self) -> int:
        """Highest committed chain version: what a lost pointer adopts
        where re-merging is idempotent."""
        return max(
            (v for v, n in self._chain().items() if self._committed(n)),
            default=0,
        )

    def _vacuum(self, upto: int, keep: tuple = ()) -> list[str]:
        removed = []
        for v, name in sorted(self._chain().items()):
            if v <= upto and v not in keep:
                shutil.rmtree(
                    os.path.join(self.base_dir, name), ignore_errors=True
                )
                removed.append(name)
        return removed

    def vacuum_versions(self, keep_last: int = 2) -> list[str]:
        """Drop ``<state>_v<N>`` dirs older than the last ``keep_last``
        committed versions (nothing, where the state is not a chain)."""
        return self._vacuum(self.version - keep_last)

    # --- foreachBatch glue ----------------------------------------------------

    def _already_merged(self, batch_id: int) -> bool:
        """foreachBatch is at-least-once: a redelivered batch id at or
        below the committed watermark is a no-op."""
        return self._last_batch_id is not None and batch_id <= self._last_batch_id

    def bind_checkpoint(self, token: str) -> None:
        """Guard against a silent streaming-checkpoint reset: batch ids
        restart at 0 under a recreated checkpoint, and the watermark
        would then absorb real data as redelivery. The first token is
        committed at once (an in-memory token would let a recreated
        checkpoint through whenever the early batches no-op); a
        different token fails loudly."""
        stored = self._checkpoint_token
        if stored is None:
            self._commit(checkpoint_token=token)
        elif stored != token:
            raise ValueError(
                f"streaming checkpoint mismatch: {self._KIND} state was "
                f"built under checkpoint {stored!r} but this run uses "
                f"{token!r}; batch ids would restart and the redelivery "
                "watermark would silently drop data. Restore the original "
                "checkpoint or start a new maintainer base_dir."
            )

    def _tick(self, batch_df: DataFrame, batch_id: int) -> None:
        self.merge_batch(batch_df, batch_id)

    def _guarded_hook(self, checkpoint_dir: str):
        """foreachBatch wrapper: bind the checkpoint IDENTITY (it exists
        only once the query has started) before each tick."""
        from _data_engineering_pipeline_project_spark.streaming.ckptid import (
            checkpoint_identity,
        )

        def hook(batch_df: DataFrame, batch_id: int) -> None:
            self.bind_checkpoint(checkpoint_identity(checkpoint_dir))
            self._tick(batch_df, batch_id)

        return hook

    def run_available_now(
        self,
        source_dir: str,
        schema: T.StructType | str,
        checkpoint_dir: str,
        source_format: str = "parquet",
    ) -> None:
        """Drain new files from ``source_dir`` into the state, one tick
        per micro-batch."""
        drain_available_now(
            self.spark,
            source_dir,
            schema,
            checkpoint_dir,
            self._guarded_hook(checkpoint_dir),
            source_format,
        )
