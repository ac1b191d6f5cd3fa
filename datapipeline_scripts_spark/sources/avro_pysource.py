"""Pure-Python Avro Object Container File reader as a Spark 4 Python
DataSource — the engine's one Avro path (`readers.read_avro` and
`readers.write_avro` call straight into this module). The external
``spark-avro`` connector jar is not baked into this image, so a JVM
tier would never run here; it comes back only as its own change, with
a workload that shows its gain.

Format per the PUBLIC Avro 1.12 spec (Object Container Files): magic
``Obj\\x01`` | file-metadata map (``avro.schema`` JSON,
``avro.codec``) | 16-byte sync marker | data blocks of
``(record-count, byte-size, payload, sync)``.  Values use Avro binary
encoding: zigzag-varint ints/longs, little-endian IEEE float/double,
length-prefixed bytes/strings, fields-in-order records, count-block
arrays/maps, index-prefixed unions.

Coverage: all primitives, records (nested too), enums, fixed, arrays,
maps, ALL unions (``[null, X]`` → nullable X; ``[int, long]`` /
``[float, double]`` promote like spark-avro; anything else maps to
spark-avro's ``struct<member0, member1, ...>`` convention with exactly
one member non-NULL), and the date / timestamp-micros /
timestamp-millis / decimal logical types; ``null``, ``deflate``
(stdlib zlib), ``snappy`` (the raw snappy block format is simple
enough to decode in ~50 lines of stdlib Python — see
``snappy_decompress``; Avro's snappy codec appends a CRC32 of the
plain bytes, verified here), ``bzip2`` and ``xz`` codecs (stdlib bz2
/ lzma), and ``zstandard`` (streamed through pyarrow, a hard
dependency of the engine's Arrow surfaces) — every codec the Avro
1.12 spec names.  Unknown future codecs still raise loudly with the
re-encode remediation.

The WRITE direction is covered too: ``write_avro_py`` emits OCF
part-files per partition (null/deflate codecs, every Spark type the
reader maps back), proven in tests by the REAL JVM
org.apache.avro DataFileReader decoding its output — encoder and
decoder are each checked against the spec's reference implementation
of the other direction, never only against themselves.

Posture at scale: this source parallelizes per-file (one
InputPartition per .avro file), decodes row-at-a-time in Python
workers, and opens files with plain ``open()`` — right for
sidecar/medium data on POSIX-visible storage, not for a 100 TB scan,
where a columnar reader splittable WITHIN files would be the lever.

Worker-shipping note (the pysource.py lesson): everything the
executor-side ``read()`` needs is built by the module-level
``_build_toolkit()`` factory and captured as CLOSURES — cloudpickle
serializes closures by value, so the special data-source worker needs
neither this package on its sys.path nor SparkFiles shipping.
"""

from __future__ import annotations

import glob as _glob
import io
import json
import os
import zlib
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_MAGIC = b"Obj\x01"


def _build_toolkit() -> dict:
    """Self-contained Avro OCF decode functions (closures → pickled by
    value when captured by the DataSource partition objects)."""

    def read_long(f) -> int:
        shift = acc = 0
        while True:
            b = f.read(1)
            if not b:
                raise EOFError("truncated Avro varint")
            acc |= (b[0] & 0x7F) << shift
            if not (b[0] & 0x80):
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def read_bytes(f) -> bytes:
        n = read_long(f)
        out = f.read(n)
        if len(out) != n:
            raise EOFError("truncated Avro bytes")
        return out

    def parse_header(f) -> tuple[dict, bytes]:
        """→ (metadata {str: bytes}, 16-byte sync). Leaves `f` at the
        first data block."""
        if f.read(4) != _MAGIC:
            raise ValueError("not an Avro Object Container File (bad magic)")
        meta: dict[str, bytes] = {}
        while True:
            n = read_long(f)
            if n == 0:
                break
            if n < 0:  # negative count: block byte-size follows (spec)
                n = -n
                read_long(f)
            for _ in range(n):
                key = read_bytes(f).decode("utf-8")
                meta[key] = read_bytes(f)
        sync = f.read(16)
        if len(sync) != 16:
            raise EOFError("truncated Avro header sync marker")
        return meta, sync

    _EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
    _EPOCH_DAY = date(1970, 1, 1)

    def make_reader(schema, named: dict):
        """Compile a parsed Avro schema (json.loads form) into a
        `fn(file) -> value` decoder. `named` maps record/enum/fixed
        fullnames to their compiled readers (forward refs by name)."""
        import struct as _struct

        if isinstance(schema, str):
            prim = {
                "null": lambda f: None,
                "boolean": lambda f: f.read(1) != b"\x00",
                "int": read_long,
                "long": read_long,
                "float": lambda f: _struct.unpack("<f", f.read(4))[0],
                "double": lambda f: _struct.unpack("<d", f.read(8))[0],
                "bytes": read_bytes,
                "string": lambda f: read_bytes(f).decode("utf-8"),
            }
            if schema in prim:
                return prim[schema]
            if schema in named:  # reference to a previously defined type
                return lambda f: named[schema][0](f)
            raise NotImplementedError(f"unresolved Avro type reference {schema!r}")
        if isinstance(schema, list):  # union
            readers = [make_reader(b, named) for b in schema]
            nb = len(readers)
            non_null_pos = [i for i, b in enumerate(schema) if b != "null"]
            prims = {b for b in schema if isinstance(b, str) and b != "null"}
            # int/long and float/double promotions (spark-avro's mapping):
            # both branches decode to the same Python type, so the plain
            # pass-through reader is already correct for them.
            promoted = len(prims) == len(non_null_pos) and prims in (
                {"int", "long"},
                {"float", "double"},
            )
            if len(non_null_pos) > 1 and not promoted:
                # member-struct mapping: union [A, B, ...] → one tuple with
                # the decoded value in its branch's member slot, None elsewhere
                slot = {p: j for j, p in enumerate(non_null_pos)}
                width = len(non_null_pos)

                def read_union_struct(f):
                    idx = read_long(f)
                    if idx < 0 or idx >= nb:
                        raise ValueError(f"Avro union index {idx} out of range")
                    v = readers[idx](f)
                    if idx not in slot:  # the null branch: whole struct is NULL
                        return None
                    out = [None] * width
                    out[slot[idx]] = v
                    return tuple(out)

                return read_union_struct

            def read_union(f):
                idx = read_long(f)
                if idx < 0 or idx >= nb:
                    raise ValueError(f"Avro union index {idx} out of range")
                return readers[idx](f)

            return read_union
        t = schema["type"]
        logical = schema.get("logicalType")
        if t == "int" and logical == "date":
            return lambda f: _EPOCH_DAY + timedelta(days=read_long(f))
        if t == "long" and logical == "timestamp-micros":
            return lambda f: _EPOCH + timedelta(microseconds=read_long(f))
        if t == "long" and logical == "timestamp-millis":
            return lambda f: _EPOCH + timedelta(milliseconds=read_long(f))
        if t in ("bytes", "fixed") and logical == "decimal":
            scale = int(schema.get("scale", 0))
            size = int(schema.get("size", 0))

            def read_decimal(f):
                raw = f.read(size) if t == "fixed" else read_bytes(f)
                unscaled = int.from_bytes(raw, "big", signed=True)
                return Decimal(unscaled).scaleb(-scale)

            if t == "fixed":
                _register_named(schema, named, read_decimal)
            return read_decimal
        if t == "record":
            field_readers: list = []

            def read_record(f, _frs=field_readers):
                return tuple(fr(f) for fr in _frs)

            _register_named(schema, named, read_record)
            for fld in schema["fields"]:  # AFTER registration: recursive types
                field_readers.append(make_reader(fld["type"], named))
            return read_record
        if t == "enum":
            symbols = list(schema["symbols"])

            def read_enum(f):
                return symbols[read_long(f)]

            _register_named(schema, named, read_enum)
            return read_enum
        if t == "fixed":
            size = int(schema["size"])

            def read_fixed(f):
                return f.read(size)

            _register_named(schema, named, read_fixed)
            return read_fixed
        if t == "array":
            item = make_reader(schema["items"], named)

            def read_array(f):
                out = []
                while True:
                    n = read_long(f)
                    if n == 0:
                        return out
                    if n < 0:
                        n = -n
                        read_long(f)  # block byte-size, unused
                    out.extend(item(f) for _ in range(n))

            return read_array
        if t == "map":
            val = make_reader(schema["values"], named)

            def read_map(f):
                out = {}
                while True:
                    n = read_long(f)
                    if n == 0:
                        return out
                    if n < 0:
                        n = -n
                        read_long(f)
                    for _ in range(n):
                        # key strictly before value: `out[k(f)] = v(f)`
                        # would evaluate the RHS first and desync
                        key = read_bytes(f).decode("utf-8")
                        out[key] = val(f)

            return read_map
        if isinstance(t, (dict, list)):  # {"type": {...}} wrapper
            return make_reader(t, named)
        return make_reader(t, named)  # {"type": "string"} primitive wrapper

    def _register_named(schema, named: dict, fn) -> None:
        # post-qualify_names the name IS the fullname; the bare short
        # segment stays registered as a net for spec-loose writers.
        # ADVICE r07: when two named types share a short name across
        # namespaces, the net must not silently bind either — register
        # a sentinel that raises on resolution instead. Bookkeeping
        # keys carry a "/" (illegal in Avro names) so they can never
        # collide with a real type reference.
        name = schema.get("name")
        if not name:
            return
        ns = schema.get("namespace")
        full = f"{ns}.{name}" if ns and "." not in name else name
        # store in a 1-tuple so forward references resolve post-hoc
        named[full] = (fn,)
        named["//full/" + full] = True
        short = full.rsplit(".", 1)[-1]
        if short == full or named.get("//full/" + short):
            return  # the short form IS a fullname — never shadow it
        owner = named.get("//short-owner/" + short)
        if owner is None or owner == full:
            named["//short-owner/" + short] = full
            named[short] = (fn,)
        else:
            def _ambiguous(_f, _s=short):
                raise ValueError(
                    f"ambiguous short Avro type reference {_s!r}: defined "
                    "in multiple namespaces — the writer schema must use "
                    "the fullname"
                )

            named[short] = (_ambiguous,)

    def snappy_decompress(buf: bytes) -> bytes:
        """Raw snappy block format (PUBLIC spec,
        google/snappy format_description.txt): uncompressed-length
        LE-varint preamble, then tagged elements — 2-bit tag type 00 =
        literal (6-bit length, 60..63 escape to 1-4 extra LE length
        bytes), 01/10/11 = back-copies with 11-bit/16-bit/32-bit
        offsets. Copies may overlap their own output (offset < length
        repeats the pattern), hence the byte-at-a-time branch."""
        i = ulen = shift = 0
        while True:
            b = buf[i]
            i += 1
            ulen |= (b & 0x7F) << shift
            if not (b & 0x80):
                break
            shift += 7
        out = bytearray()
        n = len(buf)
        while i < n:
            tag = buf[i]
            i += 1
            t = tag & 3
            if t == 0:  # literal
                v = tag >> 2
                if v < 60:
                    ln = v + 1
                else:
                    nb = v - 59
                    ln = int.from_bytes(buf[i : i + nb], "little") + 1
                    i += nb
                if i + ln > n:
                    raise ValueError("corrupt snappy literal overruns input")
                out += buf[i : i + ln]
                i += ln
                continue
            if t == 1:  # copy, 1-byte offset
                ln = ((tag >> 2) & 0x7) + 4
                off = ((tag >> 5) << 8) | buf[i]
                i += 1
            elif t == 2:  # copy, 2-byte offset
                ln = (tag >> 2) + 1
                off = int.from_bytes(buf[i : i + 2], "little")
                i += 2
            else:  # copy, 4-byte offset
                ln = (tag >> 2) + 1
                off = int.from_bytes(buf[i : i + 4], "little")
                i += 4
            if off == 0 or off > len(out):
                raise ValueError("corrupt snappy copy offset")
            start = len(out) - off
            if off >= ln:
                out += out[start : start + ln]
            else:
                for _ in range(ln):
                    out.append(out[start])
                    start += 1
        if len(out) != ulen:
            raise ValueError(f"snappy length mismatch: got {len(out)}, header says {ulen}")
        return bytes(out)

    def decompress(codec: str, payload: bytes) -> bytes:
        if codec in ("", "null"):
            return payload
        if codec == "deflate":  # raw DEFLATE stream, no zlib header (spec)
            return zlib.decompress(payload, -15)
        if codec == "snappy":  # snappy block + 4-byte BE CRC32 of the PLAIN data
            plain = snappy_decompress(payload[:-4])
            want = int.from_bytes(payload[-4:], "big")
            if zlib.crc32(plain) & 0xFFFFFFFF != want:
                raise ValueError("Avro snappy block CRC32 mismatch")
            return plain
        if codec == "bzip2":  # standard bzip2 container (stdlib)
            import bz2

            return bz2.decompress(payload)
        if codec == "xz":  # standard .xz container (stdlib)
            import lzma

            return lzma.decompress(payload, format=lzma.FORMAT_XZ)
        if codec == "zstandard":
            # zstd frames from avro-java (zstd-jni streaming) omit the
            # Frame_Content_Size field, so one-shot decompress-to-size is
            # out; pyarrow's CompressedInputStream streams the frame
            # without needing the size. pyarrow is a hard dependency of
            # this engine (Arrow UDF surface) and of the Python
            # DataSource worker itself.
            import pyarrow as pa

            return pa.CompressedInputStream(pa.BufferReader(payload), "zstd").read()
        raise NotImplementedError(
            f"Avro codec {codec!r} is not one this reader decodes; re-encode "
            "with codec=null/deflate/snappy/bzip2/xz/zstandard"
        )

    _AVRO_PRIM_NAMES = frozenset(
        {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}
    )

    def qualify_names(schema, enclosing=None, defined=None):
        """Resolve the Avro spec's namespace rules ONCE (driver- or
        executor-side, before compiling readers): rewrite every named
        type's `name` to its fullname (dropping the `namespace` attr)
        and every resolvable short reference to the fullname it denotes,
        so the `named` registries key by exact string. Per spec a name is
        defined before use in reading order, so one document-order pass
        suffices; fullname references ("a.b.C") pass through verbatim
        (ADVICE r06: avro-java emits fullname refs when a reference
        crosses a namespace context — these previously failed schema
        inference even though the decoder could read the file)."""
        if defined is None:
            defined = set()
        if isinstance(schema, str):
            if schema in _AVRO_PRIM_NAMES or "." in schema:
                return schema  # primitive, or already a fullname reference
            if enclosing and f"{enclosing}.{schema}" in defined:
                return f"{enclosing}.{schema}"  # fullname-first resolution
            return schema  # null-namespace reference (or unresolvable: loud later)
        if isinstance(schema, list):
            return [qualify_names(b, enclosing, defined) for b in schema]
        t = schema["type"]
        if t in ("record", "enum", "fixed") and schema.get("name"):
            name = schema["name"]
            ns = schema.get("namespace", enclosing) if "." not in name else None
            full = f"{ns}.{name}" if ns else name
            out = {k: v for k, v in schema.items() if k != "namespace"}
            out["name"] = full
            defined.add(full)
            inner_ns = full.rsplit(".", 1)[0] if "." in full else None
            if t == "record":
                out["fields"] = [
                    {**fld, "type": qualify_names(fld["type"], inner_ns, defined)}
                    for fld in schema["fields"]
                ]
            return out
        if t == "array":
            return {**schema, "items": qualify_names(schema["items"], enclosing, defined)}
        if t == "map":
            return {**schema, "values": qualify_names(schema["values"], enclosing, defined)}
        if isinstance(t, (dict, list)):
            return {**schema, "type": qualify_names(t, enclosing, defined)}
        return schema  # primitive-with-logicalType wrapper

    def canonical_form(schema) -> str:
        """Decode-relevant canonical form of a QUALIFIED schema (pass
        through `qualify_names` first), for the heterogeneous-directory
        comparison. Follows the spec's Parsing Canonical Form rules —
        STRIP doc/aliases/defaults/extra attributes, FULLNAMES (done
        upstream), unwrap `{"type": X}` wrappers — EXTENDED to retain
        `logicalType`/`precision`/`scale`: logical types change the
        DECODED value type (int→date, bytes→Decimal), so for this reader
        they are structural (ADVICE r07: the previous exact writer-JSON
        comparison refused legitimately homogeneous directories whose
        files differ only in doc/default/alias attributes emitted by
        evolving tooling). Serialized as sort-keys JSON; compared only
        against itself, never against an external PCF string."""

        def norm(s):
            if isinstance(s, str):
                return s
            if isinstance(s, list):
                return [norm(b) for b in s]
            t = s["type"]
            if t == "record":
                return {
                    "type": "record",
                    "name": s["name"],
                    "fields": [
                        {"name": f["name"], "type": norm(f["type"])}
                        for f in s["fields"]
                    ],
                }
            if t == "enum":
                return {"type": "enum", "name": s["name"], "symbols": s["symbols"]}
            if t == "fixed":
                out = {"type": "fixed", "name": s["name"], "size": s["size"]}
            elif t == "array":
                return {"type": "array", "items": norm(s["items"])}
            elif t == "map":
                return {"type": "map", "values": norm(s["values"])}
            elif isinstance(t, (dict, list)):
                return norm(t)  # {"type": {...}} wrapper
            else:
                out = {"type": t}
            for k in ("logicalType", "precision", "scale"):
                if k in s:
                    out[k] = s[k]
            return out["type"] if len(out) == 1 else out

        return json.dumps(norm(schema), sort_keys=True)

    def iter_file(path: str, expected_schema_canon: str | None = None):
        """Yield one tuple per record of an OCF file (top-level record
        schema → tuple in field order). When `expected_schema_canon`
        (the `canonical_form` of the qualified writer schema the
        DataFrame schema was inferred from) is given, a file whose
        writer schema differs STRUCTURALLY refuses LOUDLY — each file
        decodes by its own schema, so a heterogeneous directory would
        otherwise mislabel values under the first file's column layout
        (silent wrong data). Attribute-only differences (doc, aliases,
        field defaults) decode identically and pass."""
        with open(path, "rb") as f:
            meta, sync = parse_header(f)
            schema = qualify_names(json.loads(meta["avro.schema"].decode("utf-8")))
            if not (isinstance(schema, dict) and schema.get("type") == "record"):
                raise NotImplementedError(
                    "only record-rooted Avro files map to DataFrame rows"
                )
            if (
                expected_schema_canon is not None
                and canonical_form(schema) != expected_schema_canon
            ):
                raise ValueError(
                    f"{path}: writer schema differs from the directory's "
                    "inferred schema — this reader has no reader-schema "
                    "resolution; read the mismatched files separately"
                )
            codec = meta.get("avro.codec", b"null").decode("utf-8")
            rec = make_reader(schema, {})
            while True:
                first = f.read(1)
                if not first:
                    return  # clean EOF
                n_records = _continue_long(first, f)
                size = read_long(f)
                buf = io.BytesIO(decompress(codec, f.read(size)))
                for _ in range(n_records):
                    yield rec(buf)
                if f.read(16) != sync:
                    raise ValueError(f"sync-marker mismatch in {path}")

    def _continue_long(first: bytes, f) -> int:
        acc = first[0] & 0x7F
        shift = 7
        b = first[0]
        while b & 0x80:
            b = f.read(1)[0]
            acc |= (b & 0x7F) << shift
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    return {
        "read_long": read_long,
        "read_bytes": read_bytes,
        "parse_header": parse_header,
        "make_reader": make_reader,
        "decompress": decompress,
        "snappy_decompress": snappy_decompress,
        "iter_file": iter_file,
        "qualify_names": qualify_names,
        "canonical_form": canonical_form,
    }


_TK = _build_toolkit()


# ---- driver-side: schema inference ----------------------------------------


class _AmbiguousShortRef:
    """Sentinel bound to a short name claimed by multiple namespaces
    (ADVICE r07) — resolving a reference through it raises, mirroring
    the decoder's behavior exactly."""

    def __init__(self, short: str) -> None:
        self.short = short

    def raise_(self) -> None:
        raise ValueError(
            f"ambiguous short Avro type reference {self.short!r}: defined "
            "in multiple namespaces — the writer schema must use the "
            "fullname"
        )


def _register_named_type(schema: dict, named: dict, st: T.DataType) -> None:
    """Mirror of the decoder's `_register_named` (ADVICE r06): fullname
    AND short segment, so a fullname reference resolves here exactly
    when the decoder can read it — including the ambiguous-short-name
    sentinel (ADVICE r07)."""
    name = schema.get("name")
    if not name:
        return
    ns = schema.get("namespace")
    full = f"{ns}.{name}" if ns and "." not in name else name
    named[full] = st
    named["//full/" + full] = True
    short = full.rsplit(".", 1)[-1]
    if short == full or named.get("//full/" + short):
        return
    owner = named.get("//short-owner/" + short)
    if owner is None or owner == full:
        named["//short-owner/" + short] = full
        named[short] = st
    else:
        named[short] = _AmbiguousShortRef(short)


def _avro_to_spark(schema, named: dict) -> tuple[T.DataType, bool]:
    """Parsed Avro schema (pass through the toolkit's `qualify_names`
    first) → (Spark type, nullable). Must mirror the decoder's value
    conversions exactly (same clauses, same order)."""
    if isinstance(schema, str):
        prim = {
            "null": T.NullType(),
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "bytes": T.BinaryType(),
            "string": T.StringType(),
        }
        if schema in prim:
            return prim[schema], False
        if schema in named:
            st = named[schema]
            if isinstance(st, _AmbiguousShortRef):
                st.raise_()
            return st, False
        raise NotImplementedError(f"unresolved Avro type reference {schema!r}")
    if isinstance(schema, list):
        non_null = [b for b in schema if b != "null"]
        nullable = len(non_null) < len(schema)
        if len(non_null) == 1:
            dt, _ = _avro_to_spark(non_null[0], named)
            return dt, nullable
        prims = {b for b in non_null if isinstance(b, str)}
        if len(prims) == len(non_null) and prims == {"int", "long"}:
            return T.LongType(), nullable
        if len(prims) == len(non_null) and prims == {"float", "double"}:
            return T.DoubleType(), nullable
        # spark-avro's member-struct mapping: struct<member0: A, member1: B>,
        # exactly one member non-NULL per value (NULL struct for a null branch)
        fields = [
            T.StructField(f"member{i}", _avro_to_spark(b, named)[0], True)
            for i, b in enumerate(non_null)
        ]
        return T.StructType(fields), True
    t = schema["type"]
    logical = schema.get("logicalType")
    if t == "int" and logical == "date":
        return T.DateType(), False
    if t == "long" and logical in ("timestamp-micros", "timestamp-millis"):
        return T.TimestampType(), False
    if t in ("bytes", "fixed") and logical == "decimal":
        dec = T.DecimalType(int(schema.get("precision", 38)), int(schema.get("scale", 0)))
        if t == "fixed":  # decoder registers decimal-fixed names; mirror it
            _register_named_type(schema, named, dec)
        return dec, False
    if t == "record":
        # registration happens AFTER the field walk (a recursive record
        # has no finite StructType — a self-reference fails loudly as an
        # unresolved ref, unlike the decoder which handles recursion)
        fields = []
        for fld in schema["fields"]:
            dt, nullable = _avro_to_spark(fld["type"], named)
            fields.append(T.StructField(fld["name"], dt, nullable))
        st = T.StructType(fields)
        _register_named_type(schema, named, st)
        return st, False
    if t == "enum":
        _register_named_type(schema, named, T.StringType())
        return T.StringType(), False
    if t == "fixed":
        _register_named_type(schema, named, T.BinaryType())
        return T.BinaryType(), False
    if t == "array":
        dt, nullable = _avro_to_spark(schema["items"], named)
        return T.ArrayType(dt, nullable), False
    if t == "map":
        dt, nullable = _avro_to_spark(schema["values"], named)
        return T.MapType(T.StringType(), dt, nullable), False
    return _avro_to_spark(t, named)


def list_avro_files(path: str) -> list[str]:
    """Expand a file / directory / glob into a sorted .avro file list."""
    if os.path.isdir(path):
        files = sorted(
            os.path.join(r, fn)
            for r, _d, fns in os.walk(path)
            for fn in fns
            if fn.endswith(".avro") and not fn.startswith((".", "_"))
        )
    elif os.path.isfile(path):
        files = [path]
    else:
        files = sorted(p for p in _glob.glob(path) if os.path.isfile(p))
    if not files:
        raise FileNotFoundError(f"no Avro files at {path!r}")
    return files


def spark_schema_for_path(path: str) -> T.StructType:
    """Writer schema of the first file → Spark StructType (driver-side)."""
    with open(list_avro_files(path)[0], "rb") as f:
        meta, _sync = _TK["parse_header"](f)
    schema = _TK["qualify_names"](json.loads(meta["avro.schema"].decode("utf-8")))
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        raise NotImplementedError("only record-rooted Avro files map to DataFrame rows")
    st, _ = _avro_to_spark(schema, {})
    return st


# ---- pure-Python writer ------------------------------------------------------


def _spark_to_avro(dt: T.DataType, nullable: bool, name_seq: list) -> object:
    """Spark type → parsed-Avro-JSON schema (inverse of _avro_to_spark;
    the reader's clauses define which logical types round-trip)."""
    if isinstance(dt, T.LongType):
        base: object = "long"
    elif isinstance(dt, T.IntegerType):
        base = "int"
    elif isinstance(dt, (T.ShortType, T.ByteType)):
        base = "int"
    elif isinstance(dt, T.DoubleType):
        base = "double"
    elif isinstance(dt, T.FloatType):
        base = "float"
    elif isinstance(dt, T.BooleanType):
        base = "boolean"
    elif isinstance(dt, T.StringType):
        base = "string"
    elif isinstance(dt, T.BinaryType):
        base = "bytes"
    elif isinstance(dt, T.DateType):
        base = {"type": "int", "logicalType": "date"}
    elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        base = {"type": "long", "logicalType": "timestamp-micros"}
    elif isinstance(dt, T.DecimalType):
        base = {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": dt.precision,
            "scale": dt.scale,
        }
    elif isinstance(dt, T.ArrayType):
        base = {
            "type": "array",
            "items": _spark_to_avro(dt.elementType, dt.containsNull, name_seq),
        }
    elif isinstance(dt, T.MapType):
        if not isinstance(dt.keyType, T.StringType):
            raise NotImplementedError("Avro maps require string keys")
        base = {
            "type": "map",
            "values": _spark_to_avro(dt.valueType, dt.valueContainsNull, name_seq),
        }
    elif isinstance(dt, T.StructType):
        name_seq[0] += 1
        base = {
            "type": "record",
            "name": f"r{name_seq[0]}",
            "fields": [
                {
                    "name": f.name,
                    "type": _spark_to_avro(f.dataType, f.nullable, name_seq),
                }
                for f in dt.fields
            ],
        }
    else:
        raise NotImplementedError(f"no Avro mapping for Spark type {dt.simpleString()}")
    return ["null", base] if nullable else base


def _build_writer_toolkit() -> dict:
    """Self-contained Avro binary ENCODE closures (cloudpickled by value
    into the writer tasks, mirroring _build_toolkit)."""
    import zlib as _zlib
    from datetime import date as _date
    from decimal import Decimal as _Decimal

    _EPOCH_DAY = _date(1970, 1, 1)

    def w_long(out: bytearray, v: int) -> None:
        u = (v << 1) ^ (v >> 63) if v < 0 else v << 1
        while True:
            b7 = u & 0x7F
            u >>= 7
            if u:
                out.append(b7 | 0x80)
            else:
                out.append(b7)
                return

    def w_bytes(out: bytearray, b: bytes) -> None:
        w_long(out, len(b))
        out += b

    def make_encoder(schema):
        """Parsed Avro schema → fn(out: bytearray, value) encoder.
        Covers exactly what _spark_to_avro emits."""
        import struct as _struct

        if isinstance(schema, list):  # [null, X] from a nullable field
            inner = make_encoder(schema[1])

            def enc_union(out, v):
                if v is None:
                    w_long(out, 0)
                else:
                    w_long(out, 1)
                    inner(out, v)

            return enc_union
        if isinstance(schema, str):
            if schema in ("long", "int"):
                return w_long
            if schema == "double":
                return lambda out, v: out.__iadd__(_struct.pack("<d", v))
            if schema == "float":
                return lambda out, v: out.__iadd__(_struct.pack("<f", v))
            if schema == "boolean":
                return lambda out, v: out.append(1 if v else 0)
            if schema == "string":
                return lambda out, v: w_bytes(out, v.encode("utf-8"))
            if schema == "bytes":
                return lambda out, v: w_bytes(out, bytes(v))
            raise NotImplementedError(f"unsupported Avro primitive {schema!r}")
        t = schema["type"]
        logical = schema.get("logicalType")
        if t == "int" and logical == "date":
            return lambda out, v: w_long(out, (v - _EPOCH_DAY).days)
        if t == "long" and logical == "timestamp-micros":
            # the writer pre-converts timestamp columns to unix micros
            return w_long
        if t == "bytes" and logical == "decimal":
            scale = int(schema.get("scale", 0))

            def enc_decimal(out, v):
                unscaled = int(_Decimal(v).scaleb(scale))
                length = max(1, (unscaled.bit_length() // 8) + 1)
                w_bytes(out, unscaled.to_bytes(length, "big", signed=True))

            return enc_decimal
        if t == "record":
            encs = [make_encoder(f["type"]) for f in schema["fields"]]

            def enc_record(out, v):  # Row or tuple, fields in order
                for e, item in zip(encs, v):
                    e(out, item)

            return enc_record
        if t == "array":
            item = make_encoder(schema["items"])

            def enc_array(out, v):
                if v:
                    w_long(out, len(v))
                    for x in v:
                        item(out, x)
                w_long(out, 0)

            return enc_array
        if t == "map":
            val = make_encoder(schema["values"])

            def enc_map(out, v):
                if v:
                    w_long(out, len(v))
                    for k, x in v.items():
                        w_bytes(out, k.encode("utf-8"))
                        val(out, x)
                w_long(out, 0)

            return enc_map
        raise NotImplementedError(f"unsupported Avro schema {schema!r}")

    def write_file(path, schema_json, encoder, rows, codec, sync, block_records=4096):
        """Write one OCF file; returns the record count."""
        count = 0
        with open(path, "wb") as f:
            header = bytearray(_MAGIC)
            w_long(header, 2)
            w_bytes(header, b"avro.schema")
            w_bytes(header, schema_json.encode("utf-8"))
            w_bytes(header, b"avro.codec")
            w_bytes(header, codec.encode("utf-8"))
            header.append(0)
            header += sync
            f.write(header)
            block = bytearray()
            n_in_block = 0

            def flush():
                nonlocal block, n_in_block
                if not n_in_block:
                    return
                payload = bytes(block)
                if codec == "deflate":
                    # level 1, not 6 (optimization r14, the WARC gzip
                    # precedent): the OCF format records the codec
                    # NAME, never the level; every consumer inflates
                    # the block identically and level 1 roughly halves
                    # encode CPU per byte. Read path unchanged.
                    co = _zlib.compressobj(level=1, wbits=-15)
                    payload = co.compress(payload) + co.flush()
                elif codec != "null":
                    raise NotImplementedError(
                        f"pure-Python writer codecs: null/deflate (got {codec!r})"
                    )
                head = bytearray()
                w_long(head, n_in_block)
                w_long(head, len(payload))
                f.write(bytes(head) + payload + sync)
                block = bytearray()
                n_in_block = 0

            for row in rows:
                encoder(block, row)
                n_in_block += 1
                count += 1
                if n_in_block >= block_records:
                    flush()
            flush()
        return count

    return {
        "w_long": w_long,
        "w_bytes": w_bytes,
        "make_encoder": make_encoder,
        "write_file": write_file,
    }


_WTK = _build_writer_toolkit()


def write_avro_py(df: DataFrame, path: str, codec: str = "deflate", mode: str = "error") -> list[str]:
    """Write a DataFrame as Avro Object Container Files, pure-Python.
    One part-file per partition, written by the executors; `path` must
    be a POSIX directory visible to them (true in local mode and on
    shared-FS clusters; object stores are out of scope). Codecs:
    null/deflate. Timestamp columns are converted to unix micros
    JVM-side (exact, timezone-free) before rows reach Python;
    nested-struct timestamps are refused loudly. All four
    DataFrameWriter save modes apply (ADVICE r06): `error`/
    `errorifexists` refuse a non-empty target, `overwrite` replaces it,
    `ignore` silently returns [] when the target is non-empty, and
    `append` adds part-files under run-unique names."""
    import hashlib
    import shutil
    import uuid

    from pyspark.sql import functions as F

    mode = "error" if mode == "errorifexists" else mode
    if mode not in ("error", "overwrite", "append", "ignore"):
        raise ValueError(
            f"unknown save mode {mode!r}; expected "
            "error/errorifexists/overwrite/append/ignore"
        )
    if os.path.exists(path):
        if mode == "overwrite":
            shutil.rmtree(path)
        elif os.listdir(path):
            if mode == "ignore":
                return []  # DataFrameWriter semantics: silent no-op
            if mode == "error":
                raise FileExistsError(f"{path!r} exists; pass mode='overwrite'")
            # append falls through: run-unique part names below
    os.makedirs(path, exist_ok=True)
    # append can meet same-numbered parts from a prior run; a driver-side
    # run token keeps the names (and the md5-derived sync markers) unique
    run_token = f"-{uuid.uuid4().hex[:12]}" if mode == "append" else ""

    name_seq = [0]
    schema: dict = {
        "type": "record",
        "name": "spark_row",
        "fields": [],
    }
    cols = []
    for fld in df.schema.fields:
        if isinstance(fld.dataType, (T.TimestampType, T.TimestampNTZType)):
            cols.append(
                F.unix_micros(F.col(fld.name).cast("timestamp")).alias(fld.name)
            )
        else:
            if any(
                isinstance(t, (T.TimestampType, T.TimestampNTZType))
                for t in _walk_types(fld.dataType)
            ):
                raise NotImplementedError(
                    f"column {fld.name!r}: nested timestamps are not supported "
                    "by the pure-Python Avro writer; flatten them first"
                )
            cols.append(F.col(fld.name))
        schema["fields"].append(
            {
                "name": fld.name,
                "type": _spark_to_avro(fld.dataType, fld.nullable, name_seq),
            }
        )
    schema_json = json.dumps(schema)
    encoder = _WTK["make_encoder"](
        {**schema, "fields": [{"name": f["name"], "type": f["type"]} for f in schema["fields"]]}
    )
    write_file = _WTK["write_file"]
    sync_base = hashlib.md5(path.encode("utf-8")).digest()

    def write_partition(pid: int, rows):
        it = iter(rows)
        try:
            first = next(it)
        except StopIteration:
            return iter(())  # empty partition → no file
        import itertools

        part_path = os.path.join(path, f"part-{pid:05d}{run_token}.avro")
        sync = hashlib.md5(sync_base + run_token.encode() + pid.to_bytes(4, "big")).digest()
        write_file(part_path, schema_json, encoder, itertools.chain([first], it), codec, sync)
        return iter([part_path])

    files = sorted(df.select(*cols).rdd.mapPartitionsWithIndex(write_partition).collect())
    if not files:  # all partitions empty: header-only file so reads work
        part_path = os.path.join(path, f"part-00000{run_token}.avro")
        sync = hashlib.md5(sync_base + run_token.encode() + (0).to_bytes(4, "big")).digest()
        write_file(part_path, schema_json, encoder, iter(()), codec, sync)
        files = [part_path]
    return files


def _walk_types(dt: T.DataType):
    yield dt
    if isinstance(dt, T.StructType):
        for f in dt.fields:
            yield from _walk_types(f.dataType)
    elif isinstance(dt, T.ArrayType):
        yield from _walk_types(dt.elementType)
    elif isinstance(dt, T.MapType):
        yield from _walk_types(dt.keyType)
        yield from _walk_types(dt.valueType)


# ---- the DataSource --------------------------------------------------------


def register_pyavro(spark: SparkSession) -> None:
    """Idempotently register the `pyavro` format with this session."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    iter_file = _TK["iter_file"]  # closure → pickled by value with the partition

    class AvroFilePartition(InputPartition):
        def __init__(self, path: str, decode, expected_schema_canon: str | None) -> None:
            self.path = path
            self.decode = decode
            self.expected_schema_canon = expected_schema_canon

    class PyAvroReader(DataSourceReader):
        def __init__(self, options: dict) -> None:
            self.path = options.get("path")
            if not self.path:
                raise ValueError("pyavro: .load(path) is required")

        def partitions(self):  # one task per container file
            files = list_avro_files(self.path)
            # canonical writer schema of the file the DataFrame schema
            # was inferred from: every other file must match (executor-
            # side check — one header parse per task, no extra driver IO)
            with open(files[0], "rb") as f:
                meta, _sync = _TK["parse_header"](f)
            canon = _TK["canonical_form"](
                _TK["qualify_names"](json.loads(meta["avro.schema"].decode("utf-8")))
            )
            return [AvroFilePartition(p, iter_file, canon) for p in files]

        def read(self, partition: AvroFilePartition):
            yield from partition.decode(partition.path, partition.expected_schema_canon)

    class PyAvroDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "pyavro"

        def schema(self) -> T.StructType:
            return spark_schema_for_path(self.options.get("path", ""))

        def reader(self, schema) -> PyAvroReader:
            return PyAvroReader(self.options)

    try:
        spark.dataSource.register(PyAvroDataSource)
    except Exception:
        pass  # already registered in this session


def read_avro_py(spark: SparkSession, path: str) -> DataFrame:
    """Read Avro via the pure-Python DataSource. Schema is inferred
    driver-side from the first file's writer schema and passed
    explicitly so planning never re-opens the file."""
    register_pyavro(spark)
    inferred = spark_schema_for_path(path)
    return spark.read.format("pyavro").schema(inferred).load(path)
