"""Distributed Avro object-container sink + scan with NO spark-avro jar.

Closes the format-breadth gap documented in
queries/ingest_ops.py:format_roundtrip_matrix (round-6 verdict
"What's missing" item 3): pyspark's jars/ ships the CORE Apache Avro
runtime (avro-1.12.1.jar) but not the spark-avro DataSource connector,
so `df.write.format("avro")` fails on this cluster.  This module
implements the Avro 1.12 object-container spec (public:
avro.apache.org/docs/1.12.0/specification — magic `Obj\\x01`, file
metadata map carrying the writer schema JSON, 16-byte sync marker,
blocks of (count, byte-size, payload, sync)) in pure Python and
distributes it through mapInArrow: Arrow batches leave the JVM once,
one container file per non-empty task, bounded one-row-per-task driver
collect.

Interop is proven cross-IMPLEMENTATION, not just self-roundtrip:
tests/test_avro_py.py reads Python-written files through the official
Java `org.apache.avro.file.DataFileReader` on Spark's own classpath
(via py4j) and reads Java-`DataFileWriter`-written files back through
this Python decoder.

Scope (same contract as the rest of the format matrix): flat record
schemas over the lossless interchange types — long / int / double /
float / boolean / string / bytes, each nullable as the standard
["null", T] union.  Spark `timestamp` (an instant) travels as the
spec's timestamp-micros logical type and `timestamp_ntz` (wall time)
as local-timestamp-micros, so the round trip preserves BOTH the column
type and the displayed values in any session timezone (round-7 ADVICE:
the old mapping read timestamp-micros back as NTZ UTC wall time).
Codecs: "null" (stored) and "deflate" (the spec's required
compression, stdlib zlib) — both written and read.  Nested
structs/arrays/maps are out of scope — the typed ETL path for complex
data stays parquet (S7).  The per-row Python encode/decode is format-parity
machinery, not the analytics hot path: it exists so a user of this
engine can hand files to (or take files from) an Avro shop without a
JVM connector."""

from __future__ import annotations

import io
import json
import struct

MAGIC = b"Obj\x01"

# ------------------------------------------------------------------ codec --
# Self-contained primitives (no package imports) so task closures that
# reference them survive foreign-driver cloudpickle shipping.


def zigzag_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    u &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag_decode(buf: memoryview, pos: int) -> tuple[int, int]:
    u = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    n = (u >> 1) ^ -(u & 1)
    return n, pos


def _enc_bytes(b: bytes) -> bytes:
    return zigzag_encode(len(b)) + b


def _enc_str(s: str) -> bytes:
    return _enc_bytes(s.encode("utf-8"))


# kind -> (encoder, avro schema fragment)
_ENCODERS = {
    "long": zigzag_encode,
    "int": zigzag_encode,
    "double": lambda v: struct.pack("<d", v),
    "float": lambda v: struct.pack("<f", v),
    "boolean": lambda v: b"\x01" if v else b"\x00",
    "string": _enc_str,
    "bytes": _enc_bytes,
    "timestamp-micros": zigzag_encode,
    "local-timestamp-micros": zigzag_encode,
    "date": zigzag_encode,
}

_AVRO_TYPE = {
    "long": "long",
    "int": "int",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "string": "string",
    "bytes": "bytes",
    "timestamp-micros": {"type": "long", "logicalType": "timestamp-micros"},
    "local-timestamp-micros": {
        "type": "long",
        "logicalType": "local-timestamp-micros",
    },
    "date": {"type": "int", "logicalType": "date"},
}

# Spark simpleString -> kind
_SPARK_TO_KIND = {
    "bigint": "long",
    "long": "long",
    "int": "int",
    "integer": "int",
    "smallint": "int",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "string": "string",
    "binary": "bytes",
    # An instant (Spark timestamp) is the spec's timestamp-micros; a
    # wall-clock (timestamp_ntz) is local-timestamp-micros — distinct
    # logical types so the read side restores the exact Spark type.
    "timestamp": "timestamp-micros",
    "timestamp_ntz": "local-timestamp-micros",
    "date": "date",
}


def fields_for(spark_schema) -> list[tuple[str, str]]:
    """StructType -> [(name, kind)]; raises on out-of-scope types so a
    caller never silently writes a lossy file."""
    out = []
    for f in spark_schema.fields:
        s = f.dataType.simpleString()
        kind = _SPARK_TO_KIND.get(s)
        if kind is None:
            raise ValueError(
                f"avro_py scope: column {f.name!r} has type {s!r}; "
                "supported: " + ", ".join(sorted(_SPARK_TO_KIND))
            )
        out.append((f.name, kind))
    return out


def schema_json(fields: list[tuple[str, str]], name: str = "spark_record") -> str:
    return json.dumps(
        {
            "type": "record",
            "name": name,
            "fields": [
                {"name": n, "type": ["null", _AVRO_TYPE[k]]}
                for n, k in fields
            ],
        }
    )


def encode_rows(fields, columns, n_rows: int) -> bytes:
    """columns: list of python-value lists aligned with fields.
    Every field is the ["null", T] union: branch 0 (null) encodes as
    just the index, branch 1 as index + value."""
    out = bytearray()
    encs = [_ENCODERS[k] for _, k in fields]
    null_ix = zigzag_encode(0)
    val_ix = zigzag_encode(1)
    for i in range(n_rows):
        for col, enc in zip(columns, encs):
            v = col[i]
            if v is None:
                out += null_ix
            else:
                out += val_ix
                out += enc(v)
    return bytes(out)


def write_container(
    fields, columns, n_rows: int, codec: str = "null"
) -> bytes:
    """One complete Avro object-container file as bytes.  The sync
    marker is derived from the payload digest, so retried tasks
    produce byte-identical files.  codec: "null" (stored) or
    "deflate" (raw RFC-1951 per block, the spec's REQUIRED codec —
    stdlib zlib, readable by every Avro implementation)."""
    import hashlib
    import zlib

    if codec not in ("null", "deflate"):
        raise ValueError(f"avro_py scope: codec {codec!r}")
    sj = schema_json(fields)
    payload = encode_rows(fields, columns, n_rows)
    sync = hashlib.md5(sj.encode() + payload).digest()
    if codec == "deflate":
        co = zlib.compressobj(6, zlib.DEFLATED, -15)
        payload = co.compress(payload) + co.flush()
    buf = io.BytesIO()
    buf.write(MAGIC)
    # file metadata map: one block of 2 entries, then end-of-map
    buf.write(zigzag_encode(2))
    buf.write(_enc_str("avro.schema"))
    buf.write(_enc_bytes(sj.encode("utf-8")))
    buf.write(_enc_str("avro.codec"))
    buf.write(_enc_bytes(codec.encode()))
    buf.write(zigzag_encode(0))
    buf.write(sync)
    if n_rows:
        buf.write(zigzag_encode(n_rows))
        buf.write(zigzag_encode(len(payload)))
        buf.write(payload)
        buf.write(sync)
    return buf.getvalue()


def _decoder_for(kind: str):
    if kind in (
        "long",
        "int",
        "timestamp-micros",
        "local-timestamp-micros",
        "date",
    ):
        return zigzag_decode
    if kind == "double":
        return lambda buf, pos: (
            struct.unpack_from("<d", buf, pos)[0],
            pos + 8,
        )
    if kind == "float":
        return lambda buf, pos: (
            struct.unpack_from("<f", buf, pos)[0],
            pos + 4,
        )
    if kind == "boolean":
        return lambda buf, pos: (buf[pos] == 1, pos + 1)
    if kind == "string":

        def dec_s(buf, pos):
            ln, pos = zigzag_decode(buf, pos)
            return bytes(buf[pos : pos + ln]).decode("utf-8"), pos + ln

        return dec_s
    if kind == "bytes":

        def dec_b(buf, pos):
            ln, pos = zigzag_decode(buf, pos)
            return bytes(buf[pos : pos + ln]), pos + ln

        return dec_b
    raise ValueError(kind)


def _kind_of_avro_type(t) -> str:
    """Avro field type (the non-null union branch) -> kind."""
    if isinstance(t, dict):
        lt = t.get("logicalType")
        if lt in ("timestamp-micros", "local-timestamp-micros", "date"):
            return lt
        t = t["type"]
    if t in ("long", "int", "double", "float", "boolean", "string", "bytes"):
        return t
    raise ValueError(f"avro_py scope: unsupported avro type {t!r}")


def parse_header(data: bytes):
    """-> (fields, sync, pos_after_header).  Accepts any flat record of
    in-scope types where each field is T or ["null", T]."""
    if data[:4] != MAGIC:
        raise ValueError("not an Avro object container (bad magic)")
    buf = memoryview(data)
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n, pos = zigzag_decode(buf, pos)
        if n == 0:
            break
        if n < 0:  # block-size form: |n| entries prefixed by byte size
            n = -n
            _, pos = zigzag_decode(buf, pos)
        for _ in range(n):
            kl, pos = zigzag_decode(buf, pos)
            key = bytes(buf[pos : pos + kl]).decode("utf-8")
            pos += kl
            vl, pos = zigzag_decode(buf, pos)
            meta[key] = bytes(buf[pos : pos + vl])
            pos += vl
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"avro_py scope: codec {codec!r} not supported")
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    if schema.get("type") != "record":
        raise ValueError("avro_py scope: top-level schema must be a record")
    fields = []
    nullable = []
    for f in schema["fields"]:
        t = f["type"]
        if isinstance(t, list):
            branches = [b for b in t if b != "null"]
            if len(branches) != 1 or "null" not in t:
                raise ValueError(f"avro_py scope: union {t!r} unsupported")
            fields.append((f["name"], _kind_of_avro_type(branches[0])))
            nullable.append(t.index("null") == 0)
        else:
            fields.append((f["name"], _kind_of_avro_type(t)))
            nullable.append(None)  # not a union: no branch index on wire
    sync = bytes(buf[pos : pos + 16])
    pos += 16
    return fields, nullable, sync, pos, codec


def decode_container(data: bytes):
    """-> (fields, columns) decoded from one container file."""
    import zlib

    fields, nullable, sync, pos, codec = parse_header(data)
    buf = memoryview(data)
    decs = [_decoder_for(k) for _, k in fields]
    cols: list[list] = [[] for _ in fields]
    total = len(data)
    while pos < total:
        n_rows, pos = zigzag_decode(buf, pos)
        blen, pos = zigzag_decode(buf, pos)
        end = pos + blen
        if codec == "deflate":
            block = memoryview(
                zlib.decompress(bytes(buf[pos:end]), wbits=-15)
            )
            bpos = 0
        else:
            block, bpos = buf, pos
        for _ in range(n_rows):
            for ci, dec in enumerate(decs):
                if nullable[ci] is None:
                    v, bpos = dec(block, bpos)
                    cols[ci].append(v)
                    continue
                ix, bpos = zigzag_decode(block, bpos)
                is_null = (ix == 0) == nullable[ci]
                if is_null:
                    cols[ci].append(None)
                else:
                    v, bpos = dec(block, bpos)
                    cols[ci].append(v)
        if codec == "deflate":
            if bpos != len(block):
                raise ValueError("avro block length mismatch")
            pos = end
        else:
            if bpos != end:
                raise ValueError("avro block length mismatch")
            pos = bpos
        if bytes(buf[pos : pos + 16]) != sync:
            raise ValueError("avro sync marker mismatch")
        pos += 16
    return fields, cols


# ------------------------------------------------------- spark surface --


def _pa_type(kind: str):
    import pyarrow as pa

    return {
        "long": pa.int64(),
        "int": pa.int32(),
        "double": pa.float64(),
        "float": pa.float32(),
        "boolean": pa.bool_(),
        "string": pa.string(),
        "bytes": pa.binary(),
        # timestamp-micros is an INSTANT: tz-aware UTC arrow values map
        # to Spark TimestampType correctly in any session timezone.
        "timestamp-micros": pa.timestamp("us", tz="UTC"),
        "local-timestamp-micros": pa.timestamp("us"),
        "date": pa.date32(),
    }[kind]


def write_avro(df, out_dir: str, codec: str = "null") -> int:
    """Distributed Avro sink: one object-container file per non-empty
    task (mapInArrow — Arrow batches leave the JVM once), exactly the
    write_parquet_brotli pattern.  codec: "null" or "deflate" (raw
    RFC-1951 per block via stdlib zlib — the spec's required
    compression codec, readable by every Avro implementation).
    Returns total rows written."""
    import os

    import pyarrow as pa  # noqa: F401  (driver-side availability check)

    if codec not in ("null", "deflate"):
        raise ValueError(f"avro_py scope: codec {codec!r}")
    fields = fields_for(df.schema)
    target = out_dir
    os.makedirs(out_dir, exist_ok=True)

    sj = schema_json(fields)

    # SELF-CONTAINED task closure (no nemscraper_spark imports): python
    # workers of a foreign driver cannot import the package, the same
    # cloudpickle constraint the brotli sink and nemsource obey.  The
    # wire format logic is inlined; the module-level twins above are
    # the driver/test surface and tests pin the two agree.
    def _write(batches):
        import hashlib
        import io as _io
        import struct as _struct
        import uuid
        import zlib as _zlib

        import pyarrow as _pa

        def zz(n):
            u = ((n << 1) ^ (n >> 63)) & ((1 << 64) - 1)
            out = bytearray()
            while True:
                b = u & 0x7F
                u >>= 7
                if u:
                    out.append(b | 0x80)
                else:
                    out.append(b)
                    return bytes(out)

        def enc_bytes(b):
            return zz(len(b)) + b

        encs = {
            "long": zz,
            "int": zz,
            "timestamp-micros": zz,
            "local-timestamp-micros": zz,
            "date": zz,
            "double": lambda v: _struct.pack("<d", v),
            "float": lambda v: _struct.pack("<f", v),
            "boolean": lambda v: b"\x01" if v else b"\x00",
            "string": lambda v: enc_bytes(v.encode("utf-8")),
            "bytes": enc_bytes,
        }
        collected = [b for b in batches if b.num_rows]
        if not collected:
            return
        table = _pa.Table.from_batches(collected)
        columns = []
        for (name, kind) in fields:
            col = table.column(name)
            if kind in ("timestamp-micros", "local-timestamp-micros"):
                # tz-aware -> naive keeps the stored epoch micros
                # (instants); NTZ input is already naive wall micros.
                col = col.cast(_pa.timestamp("us")).cast(_pa.int64())
            elif kind == "date":
                col = col.cast(_pa.int32())
            columns.append(col.to_pylist())
        n_rows = table.num_rows
        payload = bytearray()
        null_ix, val_ix = zz(0), zz(1)
        row_encs = [encs[k] for _, k in fields]
        for i in range(n_rows):
            for col, enc in zip(columns, row_encs):
                v = col[i]
                if v is None:
                    payload += null_ix
                else:
                    payload += val_ix
                    payload += enc(v)
        payload = bytes(payload)
        sync = hashlib.md5(sj.encode() + payload).digest()
        if codec == "deflate":
            co = _zlib.compressobj(6, _zlib.DEFLATED, -15)
            payload = co.compress(payload) + co.flush()
        buf = _io.BytesIO()
        buf.write(b"Obj\x01")
        buf.write(zz(2))
        buf.write(enc_bytes(b"avro.schema"))
        buf.write(enc_bytes(sj.encode("utf-8")))
        buf.write(enc_bytes(b"avro.codec"))
        buf.write(enc_bytes(codec.encode()))
        buf.write(zz(0))
        buf.write(sync)
        if n_rows:
            buf.write(zz(n_rows))
            buf.write(zz(len(payload)))
            buf.write(payload)
            buf.write(sync)
        name = f"{target.rstrip('/')}/part-{uuid.uuid4().hex}.avro"
        with open(name, "wb") as out:
            out.write(buf.getvalue())
        yield _pa.RecordBatch.from_pydict(
            {"file": [name], "n_rows": [n_rows]}
        )

    rows = df.mapInArrow(_write, schema="file string, n_rows long").collect()
    return sum(r.n_rows for r in rows)


def read_avro(spark, path: str):
    """Distributed Avro scan: binaryFile source (one task per file) →
    pure-Python block decode → Arrow batches.  The Spark schema comes
    from the FIRST file's embedded writer schema (driver-side header
    peek, one small read); every task then decodes with its own file's
    schema and must agree on field names/kinds."""
    import glob as _glob
    import os

    paths = sorted(
        p
        for p in (
            _glob.glob(os.path.join(path, "*.avro")) or _glob.glob(path)
        )
        if os.path.isfile(p)
    )
    if not paths:
        raise FileNotFoundError(f"no .avro files under {path!r}")
    with open(paths[0], "rb") as fh:
        head = fh.read(1 << 20)  # header is well under 1 MiB
    fields = parse_header(head)[0]

    import pyarrow as pa

    pa_schema = pa.schema([(n, _pa_type(k)) for n, k in fields])
    spark_ddl = ", ".join(
        f"`{n}` {_SPARK_DDL[k]}" for n, k in fields
    )

    bin_df = spark.read.format("binaryFile").load(paths)

    expect_fields = [tuple(f) for f in fields]

    # SELF-CONTAINED task closure (see _write): inlined decoder, no
    # package imports on the worker.
    def _decode(batches):
        import json as _json
        import struct as _struct
        import zlib as _zlib

        import pyarrow as _pa

        def unzz(buf, pos):
            u = 0
            shift = 0
            while True:
                b = buf[pos]
                pos += 1
                u |= (b & 0x7F) << shift
                if not b & 0x80:
                    break
                shift += 7
            return (u >> 1) ^ -(u & 1), pos

        def dec_for(kind):
            if kind in (
                "long",
                "int",
                "timestamp-micros",
                "local-timestamp-micros",
                "date",
            ):
                return unzz
            if kind == "double":
                return lambda b, p: (
                    _struct.unpack_from("<d", b, p)[0],
                    p + 8,
                )
            if kind == "float":
                return lambda b, p: (
                    _struct.unpack_from("<f", b, p)[0],
                    p + 4,
                )
            if kind == "boolean":
                return lambda b, p: (b[p] == 1, p + 1)

            def dec_var(b, p, _s=(kind == "string")):
                ln, p = unzz(b, p)
                raw = bytes(b[p : p + ln])
                return (raw.decode("utf-8") if _s else raw), p + ln

            return dec_var

        def kind_of(t):
            if isinstance(t, dict):
                lt = t.get("logicalType")
                if lt in (
                    "timestamp-micros",
                    "local-timestamp-micros",
                    "date",
                ):
                    return lt
                t = t["type"]
            return t

        for b in batches:
            names = b.schema.names
            contents = b.column(names.index("content"))
            for i in range(b.num_rows):
                data = contents[i].as_py()
                if data[:4] != b"Obj\x01":
                    raise ValueError("not an Avro object container")
                buf = memoryview(data)
                pos = 4
                meta = {}
                while True:
                    n, pos = unzz(buf, pos)
                    if n == 0:
                        break
                    if n < 0:
                        n = -n
                        _, pos = unzz(buf, pos)
                    for _ in range(n):
                        kl, pos = unzz(buf, pos)
                        key = bytes(buf[pos : pos + kl]).decode()
                        pos += kl
                        vl, pos = unzz(buf, pos)
                        meta[key] = bytes(buf[pos : pos + vl])
                        pos += vl
                codec = meta.get("avro.codec", b"null").decode()
                if codec not in ("null", "deflate"):
                    raise ValueError(f"avro_py scope: codec {codec!r}")
                schema = _json.loads(meta["avro.schema"].decode())
                f_fields = []
                null_first = []
                for f in schema["fields"]:
                    t = f["type"]
                    if isinstance(t, list):
                        branch = [x for x in t if x != "null"][0]
                        f_fields.append((f["name"], kind_of(branch)))
                        null_first.append(t.index("null") == 0)
                    else:
                        f_fields.append((f["name"], kind_of(t)))
                        null_first.append(None)
                # Full (name, kind) comparison: a same-named field of a
                # different kind would otherwise decode with its own
                # decoder and be silently coerced by Arrow into the
                # first file's schema (e.g. long -> float64 loses
                # precision above 2^53) — round-7 ADVICE medium.
                if f_fields != expect_fields:
                    raise ValueError(
                        f"avro schema drift across files: {f_fields} "
                        f"!= {expect_fields}"
                    )
                sync = bytes(buf[pos : pos + 16])
                pos += 16
                decs = [dec_for(k) for _, k in f_fields]
                cols = [[] for _ in f_fields]
                total = len(data)
                while pos < total:
                    n_rows, pos = unzz(buf, pos)
                    blen, pos = unzz(buf, pos)
                    end = pos + blen
                    if codec == "deflate":
                        block = memoryview(
                            _zlib.decompress(bytes(buf[pos:end]), wbits=-15)
                        )
                        bpos = 0
                    else:
                        block, bpos = buf, pos
                    for _ in range(n_rows):
                        for ci, dec in enumerate(decs):
                            if null_first[ci] is None:
                                v, bpos = dec(block, bpos)
                                cols[ci].append(v)
                                continue
                            ix, bpos = unzz(block, bpos)
                            if (ix == 0) == null_first[ci]:
                                cols[ci].append(None)
                            else:
                                v, bpos = dec(block, bpos)
                                cols[ci].append(v)
                    if codec == "deflate":
                        if bpos != len(block):
                            raise ValueError("avro block length mismatch")
                        pos = end
                    else:
                        if bpos != end:
                            raise ValueError("avro block length mismatch")
                        pos = bpos
                    if bytes(buf[pos : pos + 16]) != sync:
                        raise ValueError("avro sync marker mismatch")
                    pos += 16
                yield _pa.RecordBatch.from_pydict(
                    {n: cols[ci] for ci, (n, _) in enumerate(f_fields)},
                    schema=_pa_schema_local,
                )

    # capture by value for the foreign-driver closure
    _pa_schema_local = pa_schema
    return bin_df.select("content").mapInArrow(_decode, schema=spark_ddl)


_SPARK_DDL = {
    "long": "bigint",
    "int": "int",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "string": "string",
    "bytes": "binary",
    "timestamp-micros": "timestamp",
    "local-timestamp-micros": "timestamp_ntz",
    "date": "date",
}
