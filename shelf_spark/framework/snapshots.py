"""Snapshot ingest / fetch / freshness (⇄ reference src/shelf/snapshots.py).

A snapshot is an immutable raw input: one file (any extension) or a
directory tree, plus a ``.meta.yaml`` sidecar. Data bytes go to the
content-addressed store; the sidecar carries checksum + provenance and is
what gets committed to git.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

from . import paths
from .exceptions import ValidationError
from .schemas import validate
from .store import get_store
from .types import Manifest, StepURI
from .utils import (
    checksum_file,
    checksum_folder,
    checksum_manifest,
    load_yaml,
    save_yaml,
)


# Descriptive fields every sidecar should eventually carry (⇄ reference
# snapshots.py:120-129's to_dict field set, minus the machine-managed ones).
PROVENANCE_SKELETON = (
    "name",
    "description",
    "source_name",
    "source_url",
    "access_notes",
    "license",
    "license_url",
)


@dataclass
class Snapshot:
    uri: StepURI
    checksum: str
    snapshot_type: str  # "file" | "directory"
    extension: str = ""
    manifest: Manifest | None = None
    provenance: dict[str, Any] = field(default_factory=dict)

    # -- paths ---------------------------------------------------------------

    @property
    def data_path(self) -> Path:
        return paths.snapshot_data_path(self.uri.path, self.extension)

    @property
    def metadata_path(self) -> Path:
        return paths.snapshot_metadata_path(self.uri.path)

    # -- ingest (⇄ reference snapshots.py:78-173) ---------------------------

    @classmethod
    def create(cls, local_path: Path | str, dataset_path: str, metadata: dict | None = None) -> "Snapshot":
        local = Path(local_path)
        if local.is_dir():
            return cls._create_from_directory(local, dataset_path, metadata or {})
        return cls._create_from_file(local, dataset_path, metadata or {})

    @classmethod
    def _create_from_file(cls, local: Path, dataset_path: str, metadata: dict) -> "Snapshot":
        checksum = checksum_file(local)
        snap = cls(
            uri=StepURI("snapshot", dataset_path),
            checksum=checksum,
            snapshot_type="file",
            extension=local.suffix,
            provenance=dict(metadata),
        )
        dest = snap.data_path
        dest.parent.mkdir(parents=True, exist_ok=True)
        if local.resolve() != dest.resolve():
            dest.write_bytes(local.read_bytes())
        get_store().upload(dest, checksum)
        snap.save_metadata()
        return snap

    @classmethod
    def _create_from_directory(cls, local: Path, dataset_path: str, metadata: dict) -> "Snapshot":
        manifest = checksum_folder(local)
        snap = cls(
            uri=StepURI("snapshot", dataset_path),
            checksum=checksum_manifest(manifest),
            snapshot_type="directory",
            manifest=manifest,
            provenance=dict(metadata),
        )
        dest = snap.data_path
        store = get_store()
        for rel, sha in manifest.items():
            src = local / rel
            out = dest / rel
            out.parent.mkdir(parents=True, exist_ok=True)
            if src.resolve() != out.resolve():
                out.write_bytes(src.read_bytes())
            store.upload(out, sha)
        snap.save_metadata()
        return snap

    # -- sidecar -------------------------------------------------------------

    def save_metadata(self) -> None:
        doc: dict[str, Any] = {
            "uri": str(self.uri),
            "version": 1,
            "checksum": self.checksum,
            "snapshot_type": self.snapshot_type,
            "date_accessed": self.provenance.get(
                "date_accessed", dt.date.today().isoformat()
            ),
        }
        if self.snapshot_type == "file":
            doc["extension"] = self.extension
        else:
            doc["manifest"] = dict(sorted((self.manifest or {}).items()))
        for k, v in self.provenance.items():
            if v is not None and k not in doc:
                doc[k] = v
        validate(doc, "snapshot")
        # Unfilled provenance fields are written as "# key:" comment lines —
        # a human-facing skeleton prompting later curation, mirroring the
        # reference sidecar format (reference snapshots.py:131-139 +
        # utils.py:76-94). Loaders never see them (YAML comments).
        for k in PROVENANCE_SKELETON:
            doc.setdefault(k, None)
        save_yaml(doc, self.metadata_path, include_comments=True)

    @classmethod
    def load(cls, uri: StepURI) -> "Snapshot":
        doc = load_yaml(paths.snapshot_metadata_path(uri.path))
        validate(doc, "snapshot")
        provenance = {
            k: v
            for k, v in doc.items()
            if k not in {"uri", "version", "checksum", "snapshot_type", "extension", "manifest"}
        }
        return cls(
            uri=StepURI.parse(doc["uri"]),
            checksum=doc["checksum"],
            snapshot_type=doc.get("snapshot_type", "file"),
            extension=doc.get("extension", ""),
            manifest=doc.get("manifest"),
            provenance=provenance,
        )

    # -- fetch / freshness (⇄ reference snapshots.py:175-205, 252-254) ------

    def is_up_to_date(self) -> bool:
        if self.snapshot_type == "file":
            return self.data_path.exists() and checksum_file(self.data_path) == self.checksum
        if not self.data_path.is_dir() or self.manifest is None:
            return False
        actual = checksum_folder(self.data_path)
        return actual == self.manifest

    def fetch(self) -> None:
        """Materialize from cache/store; no-op when already fresh."""
        if self.snapshot_type == "file":
            if self.is_up_to_date():
                return
            if not get_store().download(self.checksum, self.data_path):
                raise ValidationError(f"object {self.checksum[:12]}… not in store for {self.uri}")
            return
        # directory: remove files not in the manifest, then fetch the
        # missing or stale ones. The loop hashes each entry once, so an
        # up-front is_up_to_date() would only hash them all twice.
        assert self.manifest is not None
        store = get_store()
        if self.data_path.is_dir():
            for p in self.data_path.rglob("*"):
                if p.is_file() and str(p.relative_to(self.data_path)) not in self.manifest:
                    p.unlink()
        for rel, sha in self.manifest.items():
            out = self.data_path / rel
            if out.exists() and checksum_file(out) == sha:
                continue
            if not store.download(sha, out):
                raise ValidationError(f"object {sha[:12]}… not in store for {self.uri}/{rel}")
