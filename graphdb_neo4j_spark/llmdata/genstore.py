"""Generation-store protocol shared by the persisted MinHash store and the
gram store (``llmdata/dedup.py``).

A store is a directory holding one or more tables — ``sigs/`` and
``buckets/`` for MinHash, the store root itself for grams — each laid out
as one ``generation=<id>/`` partition dir per ingested batch, plus a JSON
meta sidecar (its underscore prefix hides it from parquet discovery). The
sidecar records the build parameters, the replay ledger ``generations``
(every batch id ever folded in) and ``active`` (the generation dirs
expected on disk; compaction shrinks it, never the ledger).

A write is a mini commit log:

1. the generation's data lands in every table;
2. a ``_COMMITTED`` marker lands in each new generation dir;
3. the ATOMIC sidecar replace (ledger += id, active += id) commits.

A crash before step 3 leaves orphan dirs that every probe and append
detects (:meth:`GenStore.validate`) and that the store's ``repair_*``
function deletes (:meth:`GenStore.sweep_orphans`); the batch id never
entered the ledger, so the caller's retry is accepted. A replayed id
raises instead of folding the batch in twice. A path without a sidecar
is not a store: probes, appends and repairs raise and name the
``write_*_store(mode='overwrite')`` cold start.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

COMMITTED = "_COMMITTED"  # per-generation data-commit marker
COMPACT_GENERATION = "__compact__"  # gram-store compaction output; reserved
MODES = ("overwrite", "append")


def check_generation_id(generation: object) -> None:
    """Reject a batch id that cannot name exactly one ``generation=<id>/``
    dir: a non-string or empty id, an id containing ``/`` (it would nest
    dirs, so the on-disk id would never match the ledgered one) and the
    reserved compaction id. Run before anything is written."""
    if not isinstance(generation, str) or not generation:
        raise ValueError(
            f"generation id must be a non-empty string, got {generation!r}"
        )
    if "/" in generation:
        raise ValueError(
            f"generation id {generation!r} contains '/' — it would nest "
            f"generation dirs"
        )
    if generation == COMPACT_GENERATION:
        raise ValueError(f"generation id {COMPACT_GENERATION!r} is reserved")


def read_meta(path: str, meta_name: str) -> dict | None:
    """The store's meta sidecar, or None when ``path`` holds none."""
    p = os.path.join(path, meta_name)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def write_json_atomic(file: str, obj: dict) -> None:
    """Write-tmp + ``os.replace``: a reader sees the old file or the new
    one, never a half-written one — which is what lets a sidecar write be
    a commit point."""
    tmp = file + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2, sort_keys=True)
    os.replace(tmp, file)


def generation_dirs(table_dir: str) -> dict[str, str]:
    """Visible ``generation=<id>/`` partition dirs → {id: path}."""
    if not os.path.isdir(table_dir):
        return {}
    dirs = {}
    for name in os.listdir(table_dir):
        d = os.path.join(table_dir, name)
        if name.startswith("generation=") and os.path.isdir(d):
            dirs[name.split("=", 1)[1]] = d
    return dirs


@dataclass(frozen=True)
class GenStore:
    """One store layout: ``kind`` names the store and its
    ``write_<kind>_store`` / ``repair_<kind>_store`` functions in errors;
    ``tables`` are the subdirs holding generation dirs (``""`` = the
    store root)."""

    kind: str
    meta_name: str
    tables: tuple[str, ...]

    def load(self, path: str) -> dict:
        """The sidecar; raises when ``path`` holds none."""
        meta = read_meta(path, self.meta_name)
        if meta is None:
            raise ValueError(
                f"no {self.meta_name} sidecar at {path} — not a {self.kind} "
                f"store; cold-start it with "
                f"write_{self.kind}_store(mode='overwrite')"
            )
        return meta

    def write_meta(self, path: str, meta: dict) -> None:
        write_json_atomic(os.path.join(path, self.meta_name), meta)

    def validate(self, path: str, meta: dict) -> None:
        """Crash-consistency gate before every probe, append and
        compaction: a crashed write or compaction must be DETECTED, never
        silently read (an orphan generation double-counts, a missing one
        silently misses its batch)."""
        repair = f"repair_{self.kind}_store()"
        if meta.get("pending_compact"):
            raise ValueError(
                f"{self.kind} store at {path} has an interrupted compaction "
                f"(pending_compact in {self.meta_name}) — run {repair} to "
                f"roll it forward"
            )
        active = set(meta["active"])
        for table in self.tables:
            table_dir = os.path.join(path, table)
            dirs = generation_dirs(table_dir)
            if set(dirs) != active:
                raise ValueError(
                    f"{self.kind} store at {path} is data/meta inconsistent: "
                    f"generation dirs {sorted(dirs)} under {table_dir} != "
                    f"active {sorted(active)} (crashed write or compaction) "
                    f"— run {repair}"
                )
            missing = [
                g
                for g, d in dirs.items()
                if not os.path.exists(os.path.join(d, COMMITTED))
            ]
            if missing:
                # the ledger says committed but the data never finished:
                # the batch's rows are gone, and its id cannot be re-appended
                raise ValueError(
                    f"{self.kind} store at {path} has active generations "
                    f"without a {COMMITTED} marker under {table_dir} (partial "
                    f"data write): {sorted(missing)} — {repair} cannot "
                    f"restore them; rebuild the store with "
                    f"write_{self.kind}_store(mode='overwrite')"
                )

    def check_params(self, path: str, meta: dict, params: dict, op: str) -> None:
        """Build parameters must match: a probe or append at a different
        shingle width / hash scheme / band shape keys its rows differently
        and silently misses every stored one."""
        for name, val in params.items():
            if meta[name] != val:
                raise ValueError(
                    f"{self.kind} store at {path} was built with "
                    f"{name}={meta[name]}, {op} requested {name}={val} — a "
                    f"cross-parameter {op} silently misses every stored key"
                )

    def check_probe(self, path: str, params: dict) -> None:
        """Load, validate and parameter-check the store a probe reads."""
        meta = self.load(path)
        self.validate(path, meta)
        self.check_params(path, meta, params, "probe")

    def begin_write(
        self, path: str, mode: str, generation: str, params: dict
    ) -> dict:
        """Check a write before it touches disk and return the meta that
        :meth:`commit` extends. ``overwrite`` then deletes the old store
        and starts a fresh sidecar; ``append`` requires a valid store with
        the same build parameters that has never folded ``generation``
        in."""
        if mode not in MODES:
            raise ValueError(f"mode must be one of {MODES}, got {mode!r}")
        check_generation_id(generation)
        if mode == "overwrite":
            if os.path.exists(path):
                shutil.rmtree(path)
            return {**params, "generations": [], "active": []}
        meta = self.load(path)
        self.check_params(path, meta, params, "append")
        if generation in meta["generations"]:
            raise ValueError(
                f"generation {generation!r} already folded into the "
                f"{self.kind} store at {path} (a replayed or retried append "
                f"would fold the batch in twice)"
            )
        self.validate(path, meta)
        return meta

    def commit(self, path: str, meta: dict, generation: str) -> None:
        """Steps 2 and 3 once the generation's data is written: a marker
        in each table's dir, then the atomic sidecar replace."""
        for table in self.tables:
            marker = os.path.join(path, table, f"generation={generation}", COMMITTED)
            with open(marker, "w"):
                pass
        self.write_meta(
            path,
            {
                **meta,
                "generations": meta["generations"] + [generation],
                "active": meta["active"] + [generation],
            },
        )

    def sweep_orphans(self, path: str, meta: dict) -> list[str]:
        """Delete every generation dir not in ``active`` — uncommitted
        residue of a crashed write. Returns the actions taken."""
        actions = []
        for table in self.tables:
            for gen, d in sorted(generation_dirs(os.path.join(path, table)).items()):
                if gen not in meta["active"]:
                    shutil.rmtree(d)
                    actions.append(
                        f"removed uncommitted "
                        f"{os.path.join(table, f'generation={gen}')}"
                    )
        return actions
