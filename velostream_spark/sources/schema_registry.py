"""File-based schema registry — the data-schema half of the reference's
registry surface (``config/schema_registry.rs:201`` ``HierarchicalSchemaRegistry``
plus ``src/velostream/schema/``): subjects hold ordered schema versions,
consumers resolve writer vs reader versions, and compatibility is checked
before registration.

Layout: ``<root>/<subject>/<N>.avsc`` (N = 1-based version).  This is the
same subject/version model as Confluent's registry, kept on the filesystem
so it works in air-gapped environments; at scale the root lives on shared
storage (HDFS/S3 via a mounted path) and reads are cached per-session.

Feeds the Avro codec (`avro_binary`): ``decode_with_registry`` resolves the
writer's schema version and the latest (or pinned) reader version and hands
both to ``df_decode_avro`` (the vectorised batch kernel via ``mapInArrow``) —
giving schema-evolution decode end-to-end without any connector jar.

WITH-clause keys honored (mirroring the reference's source config surface):
``avro.schema.registry.path``, ``avro.schema.subject``,
``avro.schema.version`` (writer version; default latest),
``avro.schema.reader.version`` (default latest).

Confluent wire framing (public wire-format spec: 1 magic byte ``0x00`` +
4-byte big-endian GLOBAL schema id + Avro binary payload — what a real
migrating user's topics contain): every registered (subject, version) also
gets a global id (``<root>/_ids/<id>.ref``); ``frame_value``/
``unframe_value`` wrap payloads, and ``df_encode_confluent`` /
``df_decode_confluent`` run the framed path in-plan, resolving each
record's WRITER schema from its frame id — so one stream can carry
mixed-version records and still decode to the reader's shape.
"""

from __future__ import annotations

import functools
import json
import struct
from pathlib import Path

from .avro_binary import _resolve

__all__ = [
    "FileSchemaRegistry",
    "can_read",
    "decode_with_registry",
    "frame_value",
    "unframe_value",
    "df_encode_confluent",
    "df_decode_confluent",
]

CONFLUENT_MAGIC = 0x00
_ID_STRUCT = struct.Struct(">I")


class SchemaCompatibilityError(ValueError):
    pass


class FileSchemaRegistry:
    """Subject → ordered Avro schema versions on the filesystem."""

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self._cache: dict[tuple[str, int], str] = {}

    # -- write path --------------------------------------------------------

    def register(
        self, subject: str, schema_json: str, *, check_compat: bool = True
    ) -> int:
        """Register a schema under ``subject``; returns its version.

        Identical-to-latest schemas are deduplicated (returns the existing
        version).  With ``check_compat`` (default), the new schema must be
        able to READ data written with the current latest (backward
        compatibility — the reference's evolution contract).
        """
        canonical = json.dumps(json.loads(schema_json), sort_keys=True)
        versions = self.versions(subject)
        if versions:
            latest = self.get_schema(subject, versions[-1])
            if json.dumps(json.loads(latest), sort_keys=True) == canonical:
                return versions[-1]
            if check_compat and not can_read(schema_json, latest):
                raise SchemaCompatibilityError(
                    f"schema for {subject!r} cannot read version {versions[-1]} data"
                )
        version = (versions[-1] + 1) if versions else 1
        subj_dir = self.root / subject
        subj_dir.mkdir(parents=True, exist_ok=True)
        (subj_dir / f"{version}.avsc").write_text(schema_json)
        self._cache[(subject, version)] = schema_json
        self._assign_id(subject, version)
        return version

    # -- global ids (Confluent wire-format model) --------------------------

    def _ids_dir(self) -> Path:
        d = self.root / "_ids"
        d.mkdir(parents=True, exist_ok=True)
        return d

    def _id_index(self) -> dict[int, tuple[str, int]]:
        out: dict[int, tuple[str, int]] = {}
        for p in self._ids_dir().glob("*.ref"):
            subject, _, version = p.read_text().strip().partition(" ")
            out[int(p.stem)] = (subject, int(version))
        return out

    def _assign_id(self, subject: str, version: int) -> int:
        index = self._id_index()
        for sid, ref in index.items():
            if ref == (subject, version):
                return sid
        # O_EXCL create loop: an id file can never be claimed twice, so two
        # concurrent callers can't allocate the same global id (the loser of
        # the race retries with the next id), and an existing .ref is never
        # overwritten — a silent overwrite would make framed records decode
        # against the wrong writer schema.
        sid = max(index, default=0) + 1
        while True:
            path = self._ids_dir() / f"{sid}.ref"
            try:
                with open(path, "x") as fh:
                    fh.write(f"{subject} {version}")
                return sid
            except FileExistsError:
                # Another caller just claimed sid; if it was for the same
                # (subject, version) reuse it, else try the next id.
                try:
                    ref = path.read_text().strip().partition(" ")
                    if (ref[0], int(ref[2])) == (subject, version):
                        return sid
                except (ValueError, OSError):
                    pass  # claimed but not yet readable — not ours
                sid += 1

    def schema_id(self, subject: str, version: int | None = None) -> int:
        """Global id of (subject, version) — lazily assigned for schemas
        registered before ids existed."""
        if version is None:
            version = self.latest_version(subject)
        if not (self.root / subject / f"{version}.avsc").is_file():
            raise KeyError(f"no version {version} for subject {subject!r}")
        return self._assign_id(subject, version)

    def get_by_id(self, schema_id: int) -> tuple[str, int, str]:
        """(subject, version, schema_json) for a global id."""
        ref = self._id_index().get(schema_id)
        if ref is None:
            raise KeyError(f"unknown schema id {schema_id}")
        subject, version = ref
        return subject, version, self.get_schema(subject, version)

    # -- read path ---------------------------------------------------------

    def subjects(self) -> list[str]:
        # underscore dirs are registry internals (_ids), not subjects
        return sorted(
            p.name
            for p in self.root.iterdir()
            if p.is_dir() and not p.name.startswith("_")
        )

    def versions(self, subject: str) -> list[int]:
        subj_dir = self.root / subject
        if not subj_dir.is_dir():
            return []
        return sorted(int(p.stem) for p in subj_dir.glob("*.avsc"))

    def latest_version(self, subject: str) -> int:
        versions = self.versions(subject)
        if not versions:
            raise KeyError(f"unknown subject: {subject!r}")
        return versions[-1]

    def get_schema(self, subject: str, version: int | None = None) -> str:
        if version is None:
            version = self.latest_version(subject)
        key = (subject, version)
        if key not in self._cache:
            path = self.root / subject / f"{version}.avsc"
            if not path.is_file():
                raise KeyError(f"no version {version} for subject {subject!r}")
            self._cache[key] = path.read_text()
        return self._cache[key]


# ---------------------------------------------------------------------------
# static resolution check (spec "Schema Resolution" rules, no data needed)
# ---------------------------------------------------------------------------


def can_read(reader_json_or_schema, writer_json_or_schema) -> bool:
    """True if every datum written with ``writer`` can be decoded as
    ``reader``, by the rules the decoders themselves resolve with."""
    writer, reader = _load(writer_json_or_schema), _load(reader_json_or_schema)
    try:
        return _resolve(writer, reader).complete()
    except ValueError:
        return False


def _load(schema):
    """Accept a parsed schema, a JSON string, or a bare type name."""
    if not isinstance(schema, str):
        return schema
    try:
        return json.loads(schema)
    except json.JSONDecodeError:
        return schema  # bare primitive name like "long"


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------


def frame_value(schema_id: int, payload: bytes) -> bytes:
    """Confluent wire frame: magic 0x00 + 4-byte big-endian id + payload."""
    return bytes((CONFLUENT_MAGIC,)) + _ID_STRUCT.pack(schema_id) + payload


def unframe_value(data: bytes) -> tuple[int, bytes]:
    """Framed bytes → (schema_id, Avro payload); validates the magic byte."""
    if len(data) < 5:
        raise ValueError(f"framed value too short ({len(data)} bytes)")
    if data[0] != CONFLUENT_MAGIC:
        raise ValueError(f"bad magic byte 0x{data[0]:02x} (expected 0x00)")
    return _ID_STRUCT.unpack_from(data, 1)[0], data[5:]


def df_encode_confluent(
    df,
    registry_path: str,
    subject: str,
    version: int | None = None,
    out_col: str = "value",
    passthrough_cols: list[str] | None = None,
):
    """Encode rows to Confluent-framed Avro values: each value carries the
    writer schema's GLOBAL id, so any registry-aware consumer can resolve
    it. One Arrow stage; the registry root must be shared storage so
    executors can read it (local path here, HDFS/S3 mount at scale).

    ``passthrough_cols`` are excluded from the Avro record and emitted
    unchanged alongside ``out_col`` (e.g. a Kafka message key)."""
    import pyarrow as pa

    from pyspark.sql.types import BinaryType, StructField, StructType

    from .avro_binary import AvroBinaryCodec, _encode_rows

    registry = FileSchemaRegistry(registry_path)
    writer_json = registry.get_schema(subject, version)
    schema_id = registry.schema_id(subject, version)
    # rendered driver-side: struct.Struct instances don't pickle
    head = bytes((CONFLUENT_MAGIC,)) + _ID_STRUCT.pack(schema_id)
    passthrough = list(passthrough_cols or [])
    data_cols = [c for c in df.columns if c not in passthrough]

    def gen(batches):
        codec = AvroBinaryCodec(writer_json)
        for batch in batches:
            vals = _encode_rows(codec, batch.select(data_cols), head)
            cols = [batch.column(c) for c in passthrough] + [vals]
            yield pa.RecordBatch.from_arrays(cols, names=passthrough + [out_col])

    out_fields = [StructField(c, df.schema[c].dataType) for c in passthrough]
    out_fields.append(StructField(out_col, BinaryType()))
    return df.mapInArrow(gen, schema=StructType(out_fields))


def _confluent_ids(frames):
    """Confluent frames (rows × 5 uint8: magic byte, big-endian id) → the
    global schema id of each row; the magic byte is checked."""
    import numpy as np

    bad = frames[:, 0] != CONFLUENT_MAGIC
    if bad.any():
        raise ValueError(f"bad magic byte 0x{frames[bad][0, 0]:02x} (expected 0x00)")
    return np.ascontiguousarray(frames[:, 1:]).view(">u4").ravel()


def df_decode_confluent(
    df,
    registry_path: str,
    reader_subject: str,
    reader_version: int | None = None,
    value_col: str = "value",
):
    """Decode Confluent-framed Avro values: per-record writer schema
    resolved from the frame's global id (looked up once per id inside the
    Arrow stage), all records projected to the READER schema's shape
    (``reader_subject``/``reader_version``, default latest) via Avro schema
    resolution — mixed-version topics decode in one pass. A null value
    gives null record fields; the other input columns pass through."""
    from pyspark.sql.types import StructType

    from .avro_binary import (
        SPARK_TZ,
        _decoded_record_batch,
        _spark_fields,
        decode_framed_batch,
    )

    registry = FileSchemaRegistry(registry_path)
    reader_json = registry.get_schema(reader_subject, reader_version)
    passthrough = [f for f in df.schema.fields if f.name != value_col]
    schema = StructType(_spark_fields(json.loads(reader_json)) + passthrough)
    frame_size = 1 + _ID_STRUCT.size

    def gen(batches):
        reg = FileSchemaRegistry(registry_path)

        @functools.lru_cache(maxsize=None)
        def writer_json(sid: int) -> str:
            return reg.get_by_id(sid)[2]

        for batch in batches:
            rec = decode_framed_batch(
                batch.column(value_col),
                frame_size,
                _confluent_ids,
                writer_json,
                reader_json,
                SPARK_TZ,
            )
            yield _decoded_record_batch(batch, value_col, rec)

    return df.mapInArrow(gen, schema=schema)


def decode_with_registry(df, cfg: dict[str, str], value_col: str = "value"):
    """Decode an Avro-binary ``value_col`` using WITH-clause registry config.

    The writer version is what produced the data (``avro.schema.version``,
    default latest); the reader version is what the query wants
    (``avro.schema.reader.version``, default latest).  Evolution — added
    fields with defaults, dropped fields, promotions — happens inside the
    codec's schema resolution, executor-side.

    With ``avro.framing = confluent`` the values are Confluent-framed
    (magic + global schema id) and each record's writer schema resolves
    from its own frame id instead of a pinned version.
    """
    if cfg.get("avro.framing", "").lower() == "confluent":
        reader_v = cfg.get("avro.schema.reader.version")
        return df_decode_confluent(
            df,
            cfg["avro.schema.registry.path"],
            cfg["avro.schema.subject"],
            int(reader_v) if reader_v else None,
            value_col=value_col,
        )
    registry = FileSchemaRegistry(cfg["avro.schema.registry.path"])
    subject = cfg["avro.schema.subject"]
    writer_v = cfg.get("avro.schema.version")
    reader_v = cfg.get("avro.schema.reader.version")
    writer = registry.get_schema(subject, int(writer_v) if writer_v else None)
    reader = registry.get_schema(subject, int(reader_v) if reader_v else None)

    from .avro_binary import df_decode_avro

    return df_decode_avro(df, value_col, writer, reader)
