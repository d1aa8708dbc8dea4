"""Multimodal (binary) column plumbing.

Images/audio/video travel as opaque ``binary`` columns plus a typed
metadata struct; decode/feature-extraction runs as Arrow-batched
``mapInPandas`` so each Python worker touches a whole batch of payloads
at once. PNG (IHDR) and JPEG (SOF segment walk) headers are decoded for
REAL from raw bytes, JVM-side and in the stdlib Python twin. The pixel
codec step for other formats is STUBBED (media libraries are not in
this environment): ``decode_stub`` either raises ``NotImplementedError``
(strict mode) or produces a deterministic fake decode — the Spark-side
plumbing (schema, batching, partition sizing) is real and tested.

Scale notes: binary payloads make rows wide — keep
``spark.sql.files.maxPartitionBytes`` moderate, never groupBy/shuffle the
payload itself (shuffle metadata + an id and re-join), and let
``spark.read.format("binaryFile")`` do the scan for file-backed corpora
(analogous to the reference's PNG tile fetch,
openweatherbasicmap.py:23-34 — SURVEY.md §2.1 S6).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def to_media_table(df: DataFrame, id_col: str, payload_expr, content_type: str) -> DataFrame:
    """Wrap any source into the canonical media-table shape:
    (media_id, content_type, payload binary, n_bytes, sha256_hex).
    Metadata is computed JVM-side — no Python touches the payload here."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(content_type).alias("content_type"),
        payload_expr.cast("binary").alias("payload"),
        F.octet_length(payload_expr.cast("binary")).cast("long").alias("n_bytes"),
        F.lower(F.sha2(payload_expr.cast("binary"), 256)).alias("sha256_hex"),
    )


PNG_SIGNATURE_HEX = "89504E470D0A1A0A"  # \x89PNG\r\n\x1a\n
_IHDR_TYPE_HEX = "49484452"  # "IHDR"


def png_ihdr(payload: Column) -> Column:
    """Parse the PNG IHDR header from raw bytes with JVM byte functions —
    a REAL decode for one format, no codec library involved.

    PNG layout is fixed: 8-byte signature, then the IHDR chunk (4-byte
    length, 4-byte type, 13-byte data: width u32be, height u32be,
    bit_depth u8, color_type u8, ...). Big-endian integers are decoded
    via hex → base-16 conv, all inside codegen. Non-PNG payloads (bad
    signature or first chunk not IHDR) yield NULL rather than garbage.
    """
    def be_uint(offset_1based: int, nbytes: int) -> Column:
        return F.conv(
            F.hex(F.substring(payload, offset_1based, nbytes)), 16, 10
        ).cast("long")

    is_png = (F.hex(F.substring(payload, 1, 8)) == F.lit(PNG_SIGNATURE_HEX)) & (
        F.hex(F.substring(payload, 13, 4)) == F.lit(_IHDR_TYPE_HEX)
    )
    return F.when(
        is_png,
        F.struct(
            be_uint(17, 4).alias("width"),
            be_uint(21, 4).alias("height"),
            be_uint(25, 1).cast("int").alias("bit_depth"),
            be_uint(26, 1).cast("int").alias("color_type"),
        ),
    )


def image_header(payload: Column) -> Column:
    """Signature-dispatched image header parse as a column expression:
    struct(width, height, bit_depth, color_type) for PNG/JPEG/GIF/BMP/
    TIFF payloads, NULL for anything else. PNG first, then the JPEG
    segment walk, the GIF screen descriptor, the BMP DIB struct, and
    the TIFF IFD walk — coalesce short-circuits, so each payload pays
    its own parser plus the (cheap) failed signature probes before it.
    Shared by :func:`image_dimensions` and any entry that parses
    in-row payload columns without reshaping into a media table."""
    return F.coalesce(
        png_ihdr(payload),
        jpeg_sof(payload),
        gif_screen(payload),
        bmp_header(payload),
        tiff_ifd(payload),
    )


def image_dimensions(media: DataFrame) -> DataFrame:
    """(media_id, width, height, bit_depth, color_type) for PNG, JPEG,
    GIF, BMP, and TIFF payloads in a media table, auto-detected by
    signature (PNG first, then the JPEG segment walk, the GIF screen
    descriptor, the BMP DIB struct, and the TIFF IFD walk); NULL fields
    for anything else. Pure JVM — the payload never crosses into
    Python. For JPEG rows bit_depth is the sample precision and
    color_type the component count (see :func:`jpeg_sof`); for GIF rows
    bit_depth is the color resolution and color_type the GCT flag (see
    :func:`gif_screen`); for BMP rows bits-per-pixel and compression
    (see :func:`bmp_header`); for TIFF rows BitsPerSample[0] and
    PhotometricInterpretation (see :func:`tiff_ifd`)."""
    ihdr = image_header(F.col("payload"))
    return media.select(
        "media_id",
        "content_type",
        F.col("payload"),
        ihdr.alias("_ihdr"),
    ).select(
        "media_id",
        "content_type",
        F.col("_ihdr.width").alias("width"),
        F.col("_ihdr.height").alias("height"),
        F.col("_ihdr.bit_depth").alias("bit_depth"),
        F.col("_ihdr.color_type").alias("color_type"),
    )


def synthesize_png_header(width: Column, height: Column,
                          bit_depth: int = 8, color_type: int = 6) -> Column:
    """Build a structurally valid PNG signature + IHDR chunk as a binary
    column, entirely JVM-side (hex-assemble → unhex). Used to materialize
    image payloads for corpora that ship none (this environment has no
    image files), so the REAL parser (:func:`png_ihdr`) has real bytes to
    decode — the exact byte layout a genuine PNG starts with."""
    def hex8(c: Column) -> Column:
        return F.lpad(F.hex(c.cast("long")), 8, "0")

    fixed_prefix = PNG_SIGNATURE_HEX + "0000000D" + _IHDR_TYPE_HEX
    trailer = f"{bit_depth:02X}{color_type:02X}" + "000000"  # comp/filter/interlace
    return F.unhex(
        F.concat(F.lit(fixed_prefix), hex8(width), hex8(height), F.lit(trailer))
    )


JPEG_SOI_HEX = "FFD8"
# SOF segment markers: C0-CF minus DHT (C4), JPG (C8), DAC (CC).
_JPEG_SOF_TYPES = {
    "C0", "C1", "C2", "C3", "C5", "C6", "C7", "C9", "CA", "CB", "CD", "CE", "CF",
}
# Standalone markers (no length field) legal between SOI and SOS.
_JPEG_STANDALONE = {"01", "D0", "D1", "D2", "D3", "D4", "D5", "D6", "D7"}
_JPEG_MAX_SEGMENTS = 24


def jpeg_sof(payload: Column) -> Column:
    """Parse JPEG dimensions from the SOF0/SOF2 frame header with JVM
    byte functions — the second REAL no-codec decode next to
    :func:`png_ihdr`.

    JPEG is a marker-segment stream: SOI (FFD8), then segments of
    (FF, type, u16be length incl. itself, payload) until SOS starts the
    entropy-coded data. The frame header (SOFn, n∉{4,8,12}) carries
    sample precision u8, height u16be, width u16be, component count u8.
    A naive ``locate(FFC0)`` is WRONG — APP1/EXIF payloads may contain
    those bytes — so this walks the segment chain properly: a bounded
    ``aggregate`` fold (≤24 segments, plenty for APPn + tables before
    SOF) advances offset by each segment's declared length and stops at
    the first SOF. Malformed streams (no SOI, fill byte missing, SOS/EOI
    before SOF, >24 segments) yield NULL rather than garbage.

    Returns struct(width, height, bit_depth, color_type) matching
    :func:`png_ihdr`'s shape: bit_depth carries the sample precision
    (8 for baseline), color_type the component count (3 = YCbCr,
    1 = grayscale).
    """

    def be_uint(offset: Column, nbytes: int) -> Column:
        return F.conv(F.hex(F.substring(payload, offset, nbytes)), 16, 10).cast(
            "long"
        )

    def byte_hex(offset: Column) -> Column:
        return F.hex(F.substring(payload, offset, 1))

    # fold state: off = 1-based offset of the next marker; st 0=walking,
    # 1=SOF found (w/h/prec/ncomp populated), 2=malformed/absent
    init = F.struct(
        F.lit(3).cast("long").alias("off"),
        F.when(
            F.hex(F.substring(payload, 1, 2)) == F.lit(JPEG_SOI_HEX), F.lit(0)
        )
        .otherwise(F.lit(2))
        .alias("st"),
        F.lit(None).cast("long").alias("w"),
        F.lit(None).cast("long").alias("h"),
        F.lit(None).cast("int").alias("prec"),
        F.lit(None).cast("int").alias("ncomp"),
    )

    def step(acc: Column, _x: Column) -> Column:
        off = acc["off"]
        mtype = byte_hex(off + 1)
        is_sof = mtype.isin(*_JPEG_SOF_TYPES)
        is_standalone = mtype.isin(*_JPEG_STANDALONE)
        ends_scan = mtype.isin("DA", "D9")  # SOS / EOI: no SOF will follow
        bad = (byte_hex(off) != F.lit("FF")) | (mtype == F.lit(""))
        nxt_off = off + F.lit(2) + be_uint(off + 2, 2)
        walking = F.struct(
            F.when(is_standalone, off + 2).otherwise(nxt_off).alias("off"),
            F.when(bad | ends_scan, F.lit(2))
            .when(is_sof, F.lit(1))
            .otherwise(F.lit(0))
            .alias("st"),
            F.when(is_sof, be_uint(off + 7, 2)).alias("w"),
            F.when(is_sof, be_uint(off + 5, 2)).alias("h"),
            F.when(is_sof, be_uint(off + 4, 1).cast("int")).alias("prec"),
            F.when(is_sof, be_uint(off + 9, 1).cast("int")).alias("ncomp"),
        )
        return F.when(acc["st"] == 0, walking).otherwise(acc)

    final = F.aggregate(
        F.sequence(F.lit(1), F.lit(_JPEG_MAX_SEGMENTS)), init, step
    )
    return F.when(
        final["st"] == 1,
        F.struct(
            final["w"].alias("width"),
            final["h"].alias("height"),
            final["prec"].alias("bit_depth"),
            final["ncomp"].alias("color_type"),
        ),
    )


def decode_jpeg_header(payload: bytes) -> tuple[int, int, int, int] | None:
    """Python twin of :func:`jpeg_sof` for the Arrow-batched decode path
    (stdlib only). Returns (width, height, precision, n_components) or
    None for non-JPEG / malformed bytes."""
    p = bytes(payload)
    if len(p) < 4 or p[:2] != b"\xff\xd8":
        return None
    off = 2
    for _ in range(_JPEG_MAX_SEGMENTS):
        if off + 1 >= len(p) or p[off] != 0xFF:
            return None
        mtype = p[off + 1]
        if f"{mtype:02X}" in _JPEG_SOF_TYPES:
            if off + 9 >= len(p):
                return None
            prec = p[off + 4]
            height = struct.unpack(">H", p[off + 5 : off + 7])[0]
            width = struct.unpack(">H", p[off + 7 : off + 9])[0]
            ncomp = p[off + 9]
            return (width, height, prec, ncomp)
        if f"{mtype:02X}" in _JPEG_STANDALONE:
            off += 2
            continue
        if mtype in (0xDA, 0xD9):  # SOS / EOI before any SOF
            return None
        if off + 4 > len(p):
            return None
        off += 2 + struct.unpack(">H", p[off + 2 : off + 4])[0]
    return None


def synthesize_jpeg_header(width: Column, height: Column,
                           precision: int = 8, n_components: int = 3) -> Column:
    """Build a structurally valid JPEG prefix (SOI + APP0/JFIF + an APP1
    whose payload deliberately contains the bytes FFC0 — the false-SOF
    trap a naive byte search falls into — + SOF0), entirely JVM-side.
    The media twin of :func:`synthesize_png_header`: gives the REAL
    parser (:func:`jpeg_sof`) real marker-segment bytes to walk in an
    environment that ships no image files."""

    def hex4(c: Column) -> Column:
        return F.lpad(F.hex(c.cast("long")), 4, "0")

    app0 = "FFE0" + "0010" + "4A46494600" + "0101" + "00" + "0001" + "0001" + "0000"
    # APP1 (length 8): 6 payload bytes containing a fake FFC0 marker
    app1_trap = "FFE1" + "0008" + "4578" + "FFC0" + "0000"
    sof_len = 8 + 3 * n_components
    comps = "".join(
        f"{i + 1:02X}{'22' if i == 0 else '11'}{'00' if i == 0 else '01'}"
        for i in range(n_components)
    )
    return F.unhex(
        F.concat(
            F.lit(JPEG_SOI_HEX + app0 + app1_trap + "FFC0" + f"{sof_len:04X}"
                  + f"{precision:02X}"),
            hex4(height),
            hex4(width),
            F.lit(f"{n_components:02X}" + comps),
        )
    )


def decode_png_header(payload: bytes) -> tuple[int, int, int, int] | None:
    """Python twin of :func:`png_ihdr` for the Arrow-batched decode path
    (stdlib struct only). Returns (width, height, bit_depth, color_type)
    or None for non-PNG bytes."""
    if len(payload) < 26 or payload[:8] != bytes.fromhex(PNG_SIGNATURE_HEX):
        return None
    if payload[12:16] != b"IHDR":
        return None
    width, height = struct.unpack(">II", payload[16:24])
    bit_depth, color_type = payload[24], payload[25]
    return (width, height, bit_depth, color_type)


# ---------------------------------------------------------------------------
# GIF (logical screen descriptor) and WAV (RIFF chunk walk) — the third
# and fourth REAL no-codec header decodes, covering the little-endian
# image case and the audio modality.
# ---------------------------------------------------------------------------

_GIF_SIGNATURES_HEX = ("474946383761", "474946383961")  # GIF87a / GIF89a
_WAV_RIFF_HEX = "52494646"  # "RIFF"
_WAV_WAVE_HEX = "57415645"  # "WAVE"
_WAV_FMT_HEX = "666D7420"  # "fmt "
_WAV_DATA_HEX = "64617461"  # "data"
_WAV_MAX_CHUNKS = 12


def _le_uint(payload: Column, off: Column, nbytes: int) -> Column:
    """Little-endian unsigned int: hex each byte, concat in REVERSED
    order, one base-16 conv. The LE mirror of the parsers' be_uint
    (GIF and RIFF/WAV are little-endian formats; PNG/JPEG big-endian)."""
    parts = [F.hex(F.substring(payload, off + i, 1)) for i in reversed(range(nbytes))]
    return F.conv(F.concat(*parts), 16, 10).cast("long")


def gif_screen(payload: Column) -> Column:
    """Parse the GIF logical screen descriptor from raw bytes, JVM-side.

    GIF layout is fixed (unlike JPEG, no walk needed): 6-byte signature
    ("GIF87a"/"GIF89a"), then width u16le, height u16le, one packed byte
    (bit 7 = global-color-table flag, bits 6-4 = color resolution − 1).
    Returns struct(width, height, bit_depth, color_type) in
    :func:`png_ihdr`'s shape — bit_depth carries the color resolution in
    bits, color_type the GCT flag (0/1). Non-GIF bytes yield NULL.
    """
    sig = F.hex(F.substring(payload, 1, 6))
    is_gif = sig.isin(*_GIF_SIGNATURES_HEX) & (F.octet_length(payload) >= 11)
    packed = _le_uint(payload, F.lit(11), 1)
    return F.when(
        is_gif,
        F.struct(
            _le_uint(payload, F.lit(7), 2).alias("width"),
            _le_uint(payload, F.lit(9), 2).alias("height"),
            (F.shiftright(packed, 4).bitwiseAND(F.lit(7)) + 1)
            .cast("int")
            .alias("bit_depth"),
            F.shiftright(packed, 7).bitwiseAND(F.lit(1)).cast("int").alias("color_type"),
        ),
    )


def synthesize_gif_header(width: Column, height: Column) -> Column:
    """Build a genuine GIF89a signature + logical screen descriptor as a
    binary column (JVM hex-assemble → unhex), the little-endian sibling
    of :func:`synthesize_png_header`. Packed byte F7: GCT present,
    color resolution 8 bits."""

    def le16(c: Column) -> Column:
        h = F.lpad(F.hex(c.cast("long")), 4, "0")
        return F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2))

    return F.unhex(
        F.concat(
            F.lit(_GIF_SIGNATURES_HEX[1]), le16(width), le16(height), F.lit("F70000")
        )
    )


def decode_gif_header(payload: bytes) -> tuple[int, int, int, int] | None:
    """Python twin of :func:`gif_screen` (stdlib only). Returns
    (width, height, color_resolution_bits, gct_flag) or None."""
    p = bytes(payload)
    if len(p) < 11 or p[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    width, height = struct.unpack("<HH", p[6:10])
    packed = p[10]
    return (width, height, ((packed >> 4) & 7) + 1, packed >> 7)


def bmp_header(payload: Column) -> Column:
    """Parse the BMP file + BITMAPINFOHEADER from raw bytes, JVM-side.

    Fixed little-endian struct: "BM" signature, u32le file size, 4
    reserved bytes, u32le pixel-data offset, then the DIB header —
    u32le header size (must be >= 40, the BITMAPINFOHEADER family),
    s32le width, s32le height (NEGATIVE means top-down row order — the
    classic signed-field trap; reported as |height|), u16le planes
    (must be 1 per spec — a malformed-plane trap), u16le bits-per-pixel.
    Returns struct(width, height, bit_depth=bpp, color_type=compression
    u32le) in :func:`png_ihdr`'s shape; non-BMP bytes yield NULL.
    """
    height_raw = _le_uint(payload, F.lit(23), 4)
    # s32le: values past 2^31-1 are negative (top-down); report magnitude
    height = F.when(
        height_raw > F.lit(0x7FFFFFFF), F.lit(0x100000000) - height_raw
    ).otherwise(height_raw)
    is_bmp = (
        (F.hex(F.substring(payload, 1, 2)) == F.lit("424D"))  # "BM"
        & (F.octet_length(payload) >= 34)
        & (_le_uint(payload, F.lit(15), 4) >= 40)  # DIB header size
        & (_le_uint(payload, F.lit(27), 2) == 1)  # planes
    )
    return F.when(
        is_bmp,
        F.struct(
            _le_uint(payload, F.lit(19), 4).alias("width"),
            height.cast("long").alias("height"),
            _le_uint(payload, F.lit(29), 2).cast("int").alias("bit_depth"),
            _le_uint(payload, F.lit(31), 4).cast("int").alias("color_type"),
        ),
    )


def synthesize_bmp_header(
    width: Column, height: Column, bits: Column, top_down: Column
) -> Column:
    """Genuine 54-byte BMP header (file header + BITMAPINFOHEADER) as a
    binary column. ``top_down`` stores the height NEGATIVE (two's
    complement s32le) so the parser's signed-field handling is really
    exercised; compression is 0 (BI_RGB)."""

    def le16(c: Column) -> Column:
        h = F.lpad(F.hex(c.cast("long")), 4, "0")
        return F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2))

    def le32(c: Column) -> Column:
        h = F.lpad(F.hex(c.cast("long")), 8, "0")
        return F.concat(
            F.substring(h, 7, 2), F.substring(h, 5, 2),
            F.substring(h, 3, 2), F.substring(h, 1, 2),
        )

    row_bytes = F.shiftright(width * bits + 31, 5) * 4  # 4-byte aligned
    file_size = F.lit(54) + row_bytes * height
    stored_h = F.when(top_down, F.lit(0x100000000) - height).otherwise(height)
    return F.unhex(
        F.concat(
            F.lit("424D"), le32(file_size), F.lit("00000000"), le32(F.lit(54)),
            le32(F.lit(40)), le32(width), le32(stored_h), le16(F.lit(1)),
            le16(bits), le32(F.lit(0)), le32(row_bytes * height),
            le32(F.lit(2835)), le32(F.lit(2835)), le32(F.lit(0)), le32(F.lit(0)),
        )
    )


def decode_bmp_header(payload: bytes) -> tuple[int, int, int, int] | None:
    """Python twin of :func:`bmp_header` (stdlib only). Returns
    (width, |height|, bits_per_pixel, compression) or None."""
    p = bytes(payload)
    if len(p) < 34 or p[:2] != b"BM":
        return None
    dib_size, width, height = struct.unpack("<Iii", p[14:26])
    planes, bits = struct.unpack("<HH", p[26:30])
    compression = struct.unpack("<I", p[30:34])[0]
    if dib_size < 40 or planes != 1:
        return None
    return (width, abs(height), bits, compression)


_TIFF_MAX_IFD_ENTRIES = 64


def tiff_ifd(payload: Column) -> Column:
    """Parse TIFF image metadata by walking the first IFD, JVM-side.

    TIFF is ENDIAN-TAGGED: "II"+42le (Intel) or "MM"+42be (Motorola),
    then a u32 offset to the first IFD — every later integer is decoded
    in whichever byte order the first two bytes declared, so both
    helpers below are endian-conditional expressions. The IFD is a u16
    entry count followed by 12-byte entries (tag u16, type u16, count
    u32, value-or-offset u32) — the walk is an ``F.aggregate`` over the
    entry index sequence (the same bounded-walk idiom as the JPEG
    marker scan), capped at 64 entries, matching tags not positions
    (decoy entries with other tags must be skipped, not tripped over).
    SHORT(3) values live in the value field's FIRST TWO BYTES
    (endian-dependent); a SHORT with count > 2 doesn't fit inline, so
    the field is an offset and the first sample is read THROUGH it
    (BitsPerSample for RGB is the classic case). LONG(4) reads all 4.

    Returns struct(width, height, bit_depth=BitsPerSample[0],
    color_type=PhotometricInterpretation) — tags 256/257/258/262 —
    or NULL for non-TIFF bytes.
    """
    sig = F.hex(F.substring(payload, 1, 2))
    is_le = sig == F.lit("4949")  # "II"
    is_be = sig == F.lit("4D4D")  # "MM"

    def be_uint(off: Column, nbytes: int) -> Column:
        return F.conv(F.hex(F.substring(payload, off, nbytes)), 16, 10).cast("long")

    def u16(off: Column) -> Column:
        return F.when(is_le, _le_uint(payload, off, 2)).otherwise(be_uint(off, 2))

    def u32(off: Column) -> Column:
        return F.when(is_le, _le_uint(payload, off, 4)).otherwise(be_uint(off, 4))

    ifd = u32(F.lit(5)) + 1  # TIFF offsets are 0-based; substring is 1-based
    is_tiff = (
        (is_le | is_be)
        & (u16(F.lit(3)) == 42)
        & (F.octet_length(payload) >= 8)
        # the IFD entry count itself must be in bounds — a truncated
        # file is rejected, not parsed into an all-NULL struct
        & (F.octet_length(payload) >= ifd + 1)
    )
    n_entries = u16(ifd)
    walk_n = F.least(n_entries, F.lit(_TIFF_MAX_IFD_ENTRIES))
    init = F.struct(
        F.lit(None).cast("long").alias("width"),
        F.lit(None).cast("long").alias("height"),
        F.lit(None).cast("long").alias("bits"),
        F.lit(None).cast("long").alias("photo"),
    )

    # Expression-size discipline: Catalyst has no let-binding, so the
    # (tag, typ, cnt, value) decode is materialized ONCE per entry into
    # a struct array via transform, and the fold's merge lambda only
    # touches the tiny struct fields. Folding the raw decode directly
    # would inline the byte-decode tree into every one of the four
    # accumulator fields — measured as the ANALYZER (not execution)
    # spinning minutes of GC on plans combining several parsers.
    def entry_struct(i: Column) -> Column:
        eo = ifd + 2 + i * 12
        typ = u16(eo + 2)
        cnt = u32(eo + 4)
        # SHORT fits inline only while count <= 2; otherwise the value
        # field is an offset to the sample array — follow it
        val = (
            F.when(typ == 3, F.when(cnt <= 2, u16(eo + 8)).otherwise(u16(u32(eo + 8) + 1)))
            .when(typ == 4, u32(eo + 8))
        )
        return F.struct(u16(eo).alias("tag"), val.alias("val"))

    entries = F.transform(
        F.when(walk_n >= 1, F.sequence(F.lit(0), walk_n - 1)).otherwise(
            F.array().cast("array<int>")
        ),
        entry_struct,
    )

    def step(acc: Column, e: Column) -> Column:
        def take(t: int, cur: Column) -> Column:
            return F.when(
                (e["tag"] == t) & cur.isNull() & e["val"].isNotNull(), e["val"]
            ).otherwise(cur)

        return F.struct(
            take(256, acc["width"]).alias("width"),
            take(257, acc["height"]).alias("height"),
            take(258, acc["bits"]).alias("bits"),
            take(262, acc["photo"]).alias("photo"),
        )

    walked = F.aggregate(
        entries,
        init,
        step,
        lambda acc: F.struct(
            acc["width"].alias("width"),
            acc["height"].alias("height"),
            acc["bits"].cast("int").alias("bit_depth"),
            acc["photo"].cast("int").alias("color_type"),
        ),
    )
    return F.when(is_tiff, walked)


def synthesize_tiff_header(
    width: Column, height: Column, bits: Column, photo: Column, big_endian: Column
) -> Column:
    """Genuine minimal TIFF as a binary column, in EITHER byte order
    (``big_endian`` per row — the parser must honor the declared order,
    not assume one). First IFD holds 6 entries sorted by tag: a decoy
    NewSubfileType (254, LONG 0), ImageWidth (256, SHORT), ImageLength
    (257, SHORT), BitsPerSample (258, SHORT count 3 → stored as an
    OFFSET to three samples after the IFD, exercising the
    through-the-pointer read), Compression decoy (259, SHORT 1) and
    PhotometricInterpretation (262, SHORT)."""

    def n16(c: Column) -> Column:
        h = F.lpad(F.hex(c.cast("long")), 4, "0")
        return F.when(
            big_endian, h
        ).otherwise(F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2)))

    def n32(c: Column) -> Column:
        h = F.lpad(F.hex(c.cast("long")), 8, "0")
        return F.when(big_endian, h).otherwise(
            F.concat(
                F.substring(h, 7, 2), F.substring(h, 5, 2),
                F.substring(h, 3, 2), F.substring(h, 1, 2),
            )
        )

    def short_entry(tag: int, value: Column) -> Column:
        # SHORT count 1: value in the FIRST two bytes of the field
        # (position depends on endianness)
        v = F.lpad(F.hex(value.cast("long")), 4, "0")
        field = F.when(big_endian, F.concat(v, F.lit("0000"))).otherwise(
            F.concat(F.substring(v, 3, 2), F.substring(v, 1, 2), F.lit("0000"))
        )
        return F.concat(n16(F.lit(tag)), n16(F.lit(3)), n32(F.lit(1)), field)

    def long_entry(tag: int, value: Column) -> Column:
        return F.concat(n16(F.lit(tag)), n16(F.lit(4)), n32(F.lit(1)), n32(value))

    # layout: 8-byte header, IFD at offset 8: count(2) + 6*12 + next(4)
    # = 78 bytes -> samples array at offset 8 + 78 = 86
    samples_off = 86
    bps_entry = F.concat(
        n16(F.lit(258)), n16(F.lit(3)), n32(F.lit(3)), n32(F.lit(samples_off))
    )
    header = F.when(big_endian, F.lit("4D4D002A")).otherwise(F.lit("49492A00"))
    return F.unhex(
        F.concat(
            header,
            n32(F.lit(8)),
            n16(F.lit(6)),
            long_entry(254, F.lit(0)),
            short_entry(256, width),
            short_entry(257, height),
            bps_entry,
            short_entry(259, F.lit(1)),
            short_entry(262, photo),
            n32(F.lit(0)),  # next IFD: none
            n16(bits), n16(bits), n16(bits),  # BitsPerSample[3]
        )
    )


def decode_tiff_header(payload: bytes) -> tuple[int, int, int, int] | None:
    """Python twin of :func:`tiff_ifd` (stdlib only). Returns
    (width, height, bits_per_sample0, photometric) or None."""
    p = bytes(payload)
    if len(p) < 8 or p[:2] not in (b"II", b"MM"):
        return None
    e = "<" if p[:2] == b"II" else ">"
    if struct.unpack(e + "H", p[2:4])[0] != 42:
        return None
    ifd = struct.unpack(e + "I", p[4:8])[0]
    # bounds-check every slice so truncated payloads reject (None) like
    # tiff_ifd's JVM fold does, instead of raising struct.error
    if len(p) < ifd + 2:
        return None
    n = struct.unpack(e + "H", p[ifd:ifd + 2])[0]
    got: dict[int, int] = {}
    for i in range(min(n, _TIFF_MAX_IFD_ENTRIES)):
        eo = ifd + 2 + i * 12
        if len(p) < eo + 12:
            return None
        tag, typ = struct.unpack(e + "HH", p[eo:eo + 4])
        cnt = struct.unpack(e + "I", p[eo + 4:eo + 8])[0]
        if typ == 3:
            if cnt <= 2:
                val = struct.unpack(e + "H", p[eo + 8:eo + 10])[0]
            else:
                off = struct.unpack(e + "I", p[eo + 8:eo + 12])[0]
                if len(p) < off + 2:
                    return None
                val = struct.unpack(e + "H", p[off:off + 2])[0]
        elif typ == 4:
            val = struct.unpack(e + "I", p[eo + 8:eo + 12])[0]
        else:
            continue
        got.setdefault(tag, val)
    if not all(t in got for t in (256, 257, 258, 262)):
        return None
    return (got[256], got[257], got[258], got[262])


def wav_fmt(payload: Column) -> Column:
    """Parse WAV audio metadata from the RIFF container, JVM-side — the
    audio analog of :func:`jpeg_sof`'s segment walk.

    RIFF layout: "RIFF", u32le riff size, "WAVE", then chunks of
    (4-byte id, u32le size, payload, odd sizes padded). The "fmt " chunk
    carries audio_format u16le (1 = PCM), n_channels u16le, sample_rate
    u32le, byte_rate u32le, block_align u16le, bits_per_sample u16le;
    the "data" chunk's declared size gives the duration. A naive
    fixed-offset read is WRONG — writers put LIST/INFO, fact, or cue
    chunks before "fmt " — so this walks the chunk chain with a bounded
    ``aggregate`` fold (≤12 chunks), advancing by each declared size.
    Malformed payloads (no RIFF/WAVE, truncated chain, fmt shorter than
    16 bytes) yield NULL.

    Returns struct(audio_format, n_channels, sample_rate,
    bits_per_sample, n_data_bytes, duration_ms); duration_ms =
    floor(n_data_bytes · 1000 / byte_rate).
    """
    is_wav = (F.hex(F.substring(payload, 1, 4)) == F.lit(_WAV_RIFF_HEX)) & (
        F.hex(F.substring(payload, 9, 4)) == F.lit(_WAV_WAVE_HEX)
    )
    # fold state: off = 1-based offset of the next chunk id; st 0=walking,
    # 1=fmt+data both seen, 2=malformed/truncated
    init = F.struct(
        F.lit(13).cast("long").alias("off"),
        F.when(is_wav, F.lit(0)).otherwise(F.lit(2)).alias("st"),
        F.lit(None).cast("int").alias("af"),
        F.lit(None).cast("int").alias("nch"),
        F.lit(None).cast("long").alias("rate"),
        F.lit(None).cast("long").alias("br"),
        F.lit(None).cast("int").alias("bits"),
        F.lit(None).cast("long").alias("data_size"),
    )

    def step(acc: Column, _x: Column) -> Column:
        off = acc["off"]
        past_end = (off + F.lit(7)) > F.octet_length(payload)
        cid = F.hex(F.substring(payload, off, 4))
        size = _le_uint(payload, off + 4, 4)
        is_fmt = cid == F.lit(_WAV_FMT_HEX)
        is_data = cid == F.lit(_WAV_DATA_HEX)
        # a fmt chunk must declare >= 16 bytes AND actually carry them —
        # a truncated chunk would otherwise half-populate the struct
        # (NULL rate/bits) while the done check passes
        bad_fmt = is_fmt & (
            (size < 16) | ((off + F.lit(23)) > F.octet_length(payload))
        )
        af = F.when(is_fmt, _le_uint(payload, off + 8, 2).cast("int")).otherwise(acc["af"])
        nch = F.when(is_fmt, _le_uint(payload, off + 10, 2).cast("int")).otherwise(acc["nch"])
        rate = F.when(is_fmt, _le_uint(payload, off + 12, 4)).otherwise(acc["rate"])
        br = F.when(is_fmt, _le_uint(payload, off + 16, 4)).otherwise(acc["br"])
        bits = F.when(is_fmt, _le_uint(payload, off + 22, 2).cast("int")).otherwise(acc["bits"])
        data_size = F.when(is_data, size).otherwise(acc["data_size"])
        done = af.isNotNull() & data_size.isNotNull()
        walking = F.struct(
            (off + 8 + size + (size % 2)).alias("off"),
            F.when(past_end | bad_fmt, F.lit(2))
            .when(done, F.lit(1))
            .otherwise(F.lit(0))
            .alias("st"),
            af.alias("af"),
            nch.alias("nch"),
            rate.alias("rate"),
            br.alias("br"),
            bits.alias("bits"),
            data_size.alias("data_size"),
        )
        return F.when(acc["st"] == 0, walking).otherwise(acc)

    final = F.aggregate(F.sequence(F.lit(1), F.lit(_WAV_MAX_CHUNKS)), init, step)
    duration_ms = F.when(
        final["br"] > 0,
        F.floor(final["data_size"] * 1000 / final["br"]).cast("long"),
    )
    return F.when(
        final["st"] == 1,
        F.struct(
            final["af"].alias("audio_format"),
            final["nch"].alias("n_channels"),
            final["rate"].alias("sample_rate"),
            final["bits"].alias("bits_per_sample"),
            final["data_size"].alias("n_data_bytes"),
            duration_ms.alias("duration_ms"),
        ),
    )


def synthesize_wav_header(
    n_channels: Column, sample_rate: Column, n_frames: Column, bits: int = 16
) -> Column:
    """Build a genuine RIFF/WAVE prefix — with a decoy LIST chunk BEFORE
    "fmt " (the fixed-offset trap, mirroring the JPEG APP1 fake-SOF) —
    entirely JVM-side. Declares a "data" chunk sized n_frames ·
    block_align; the audio samples themselves are not materialized
    (header metadata is what the parser reads)."""

    def le16(c: Column) -> Column:
        h = F.lpad(F.hex(c.cast("long")), 4, "0")
        return F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2))

    def le32(c: Column) -> Column:
        h = F.lpad(F.hex(c.cast("long")), 8, "0")
        return F.concat(
            F.substring(h, 7, 2), F.substring(h, 5, 2),
            F.substring(h, 3, 2), F.substring(h, 1, 2),
        )

    block_align = n_channels.cast("long") * (bits // 8)
    byte_rate = sample_rate.cast("long") * block_align
    data_size = n_frames.cast("long") * block_align
    # RIFF size = "WAVE"(4) + LIST hdr+payload(8+6) + fmt hdr+payload(8+16)
    #           + data hdr(8) + declared samples
    riff_size = F.lit(50).cast("long") + data_size
    list_chunk = "4C495354" + "06000000" + "494E464F6162"  # LIST, size 6, "INFOab"
    return F.unhex(
        F.concat(
            F.lit(_WAV_RIFF_HEX), le32(riff_size), F.lit(_WAV_WAVE_HEX),
            F.lit(list_chunk),
            F.lit(_WAV_FMT_HEX + "10000000" + "0100"),  # fmt, size 16, PCM
            le16(n_channels), le32(sample_rate), le32(byte_rate),
            le16(block_align), le16(F.lit(bits)),
            F.lit(_WAV_DATA_HEX), le32(data_size),
        )
    )


def decode_wav_header(payload: bytes) -> tuple[int, int, int, int, int, int] | None:
    """Python twin of :func:`wav_fmt` (stdlib struct only). Returns
    (audio_format, n_channels, sample_rate, bits_per_sample,
    n_data_bytes, duration_ms) or None."""
    p = bytes(payload)
    if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        return None
    off = 12
    fmt_fields = None
    data_size = None
    for _ in range(_WAV_MAX_CHUNKS):
        if fmt_fields is not None and data_size is not None:
            break
        if off + 8 > len(p):
            return None
        cid = p[off : off + 4]
        size = struct.unpack("<I", p[off + 4 : off + 8])[0]
        if cid == b"fmt ":
            if size < 16 or off + 24 > len(p):
                return None
            fmt_fields = struct.unpack("<HHIIHH", p[off + 8 : off + 24])
        elif cid == b"data":
            data_size = size
        off += 8 + size + (size % 2)
    if fmt_fields is None or data_size is None:
        return None
    af, nch, rate, br, _ba, bits = fmt_fields
    duration_ms = data_size * 1000 // br if br else None
    return (af, nch, rate, bits, data_size, duration_ms)


def decode_image_header(payload: bytes) -> tuple[int, int, int, int] | None:
    """Python twin of :func:`image_header`'s signature dispatch: try the
    five decoders in the same order the JVM coalesce does and return the
    first hit. The format signatures are pairwise distinct, so at most
    one decoder can succeed — the order only fixes which NULL-producing
    probes are skipped, exactly like the coalesce short-circuit."""
    for dec in (
        decode_png_header,
        decode_jpeg_header,
        decode_gif_header,
        decode_bmp_header,
        decode_tiff_header,
    ):
        got = dec(payload)
        if got is not None:
            return got
    return None


#: Output schema of :func:`parse_media_headers` — the flat metadata row
#: the media_metadata entry emits (pass-through scalars + the six
#: per-format header fields, NULL where a payload does not parse).
MEDIA_HEADER_SCHEMA = (
    "media_id long, content_type string, n_bytes long, sha256_hex string, "
    "width long, height long, bit_depth int, color_type int, "
    "jpeg_w long, jpeg_h long, jpeg_precision int, jpeg_ncomp int, "
    "gif_w long, gif_h long, bmp_w long, bmp_h long, bmp_bits int, "
    "tiff_w long, tiff_h long, tiff_bits int, tiff_photo int, "
    "wav_channels int, wav_rate long, wav_bits int, wav_ms long"
)


def parse_media_headers(frame: DataFrame) -> DataFrame:
    """Arrow-batched parse of six per-row media payloads at once.

    Input frame: (media_id, content_type, n_bytes, sha256_hex, _p_png,
    _p_jpeg, _p_gif, _p_bmp, _p_tiff, _p_wav); output is
    :data:`MEDIA_HEADER_SCHEMA` — the first four columns pass through
    untouched (their Arrow arrays are reused, not copied), each payload
    is decoded by the *tested Python twins* of the JVM parsers
    (:func:`decode_image_header` per image column,
    :func:`decode_wav_header` for audio), NULL fields where the twin
    returns None — field-for-field what the ``image_header``/``wav_fmt``
    expression columns produce.

    Why mapInArrow instead of the JVM expression trees (guide §4.2):
    the five signature-dispatched parser trees evaluate hex()/conv()/
    substring() chains — JPEG's 24-step segment fold and TIFF's IFD
    walk allocate hundreds of intermediate strings per row — measured
    ~300 µs/row for the six parses at sf0.1, while the stdlib-struct
    twins do the same work in ~26 µs/row single-threaded. The payloads
    are bounded header prefixes (~30-300 bytes), so the Arrow boundary
    ships roughly scan-sized bytes once; batches arrive columnar and
    the decode loop is the whole per-batch cost.
    """
    import pyarrow as pa

    out_fields = [
        ("width", pa.int64()), ("height", pa.int64()),
        ("bit_depth", pa.int32()), ("color_type", pa.int32()),
        ("jpeg_w", pa.int64()), ("jpeg_h", pa.int64()),
        ("jpeg_precision", pa.int32()), ("jpeg_ncomp", pa.int32()),
        ("gif_w", pa.int64()), ("gif_h", pa.int64()),
        ("bmp_w", pa.int64()), ("bmp_h", pa.int64()),
        ("bmp_bits", pa.int32()),
        ("tiff_w", pa.int64()), ("tiff_h", pa.int64()),
        ("tiff_bits", pa.int32()), ("tiff_photo", pa.int32()),
        ("wav_channels", pa.int32()), ("wav_rate", pa.int64()),
        ("wav_bits", pa.int32()), ("wav_ms", pa.int64()),
    ]

    def run(batches: Iterator) -> Iterator:
        for b in batches:
            n = b.num_rows
            png = b.column("_p_png").to_pylist()
            jpeg = b.column("_p_jpeg").to_pylist()
            gif = b.column("_p_gif").to_pylist()
            bmp = b.column("_p_bmp").to_pylist()
            tiff = b.column("_p_tiff").to_pylist()
            wav = b.column("_p_wav").to_pylist()
            cols: dict[str, list] = {name: [None] * n for name, _ in out_fields}
            for i in range(n):
                d = decode_image_header(png[i]) if png[i] is not None else None
                if d is not None:
                    (cols["width"][i], cols["height"][i],
                     cols["bit_depth"][i], cols["color_type"][i]) = d
                j = decode_image_header(jpeg[i]) if jpeg[i] is not None else None
                if j is not None:
                    (cols["jpeg_w"][i], cols["jpeg_h"][i],
                     cols["jpeg_precision"][i], cols["jpeg_ncomp"][i]) = j
                g = decode_image_header(gif[i]) if gif[i] is not None else None
                if g is not None:
                    cols["gif_w"][i], cols["gif_h"][i] = g[0], g[1]
                bm = decode_image_header(bmp[i]) if bmp[i] is not None else None
                if bm is not None:
                    (cols["bmp_w"][i], cols["bmp_h"][i],
                     cols["bmp_bits"][i]) = bm[0], bm[1], bm[2]
                t = decode_image_header(tiff[i]) if tiff[i] is not None else None
                if t is not None:
                    (cols["tiff_w"][i], cols["tiff_h"][i],
                     cols["tiff_bits"][i], cols["tiff_photo"][i]) = t
                w = decode_wav_header(wav[i]) if wav[i] is not None else None
                if w is not None:
                    (cols["wav_channels"][i], cols["wav_rate"][i],
                     cols["wav_bits"][i], cols["wav_ms"][i]) = (
                        w[1], w[2], w[3], w[5])
            arrays = [
                b.column("media_id"), b.column("content_type"),
                b.column("n_bytes"), b.column("sha256_hex"),
            ] + [pa.array(cols[name], type=typ) for name, typ in out_fields]
            yield pa.RecordBatch.from_arrays(
                arrays,
                names=["media_id", "content_type", "n_bytes", "sha256_hex"]
                + [name for name, _ in out_fields],
            )

    return frame.mapInArrow(run, MEDIA_HEADER_SCHEMA)


def decode_stub(payload: bytes, content_type: str, strict: bool = False) -> list[float]:
    """Decode/feature-extract. PNG, JPEG, GIF, and WAV headers are
    decoded for REAL (stdlib struct — no codec lib needed): feature =
    [width, height, bit_depth/precision, color_type/n_components] for
    images, [n_channels, sample_rate, bits, duration_ms] for WAV audio.
    Other formats remain STUBBED — real deployments swap in PIL/ffmpeg;
    this container has neither, so strict mode raises and the default
    returns a deterministic 8-dim byte-histogram feature."""
    if content_type == "image/png":
        header = decode_png_header(bytes(payload))
        if header is not None:
            return [float(v) for v in header]
    if content_type == "image/jpeg":
        jheader = decode_jpeg_header(bytes(payload))
        if jheader is not None:
            return [float(v) for v in jheader]
    if content_type == "image/gif":
        gheader = decode_gif_header(bytes(payload))
        if gheader is not None:
            return [float(v) for v in gheader]
    if content_type in ("audio/wav", "audio/x-wav"):
        wheader = decode_wav_header(bytes(payload))
        if wheader is not None and wheader[5] is not None:
            # duration is None when byte_rate is 0 — a header we can
            # parse but not meaningfully featurize; fall through to the
            # stub/strict path like any other undecodable payload
            af, nch, rate, bits, _nd, dur = wheader
            return [float(nch), float(rate), float(bits), float(dur)]
    if strict:
        raise NotImplementedError(
            f"media decode for {content_type} requires codec libraries not "
            "present in this environment"
        )
    buckets = [0] * 8
    for byte in payload[:4096]:
        buckets[byte >> 5] += 1
    total = max(1, min(len(payload), 4096))
    return [b / total for b in buckets]


def extract_features(media: DataFrame, batch_hint: int | None = None) -> DataFrame:
    """Arrow-batched feature extraction over the payload column.

    mapInPandas: each batch arrives as a pandas DataFrame of payloads;
    decode runs per element inside the batch (vectorize further inside a
    real codec). Output drops the payload — features only travel onward.
    """

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feats = [
                decode_stub(p, ct)
                for p, ct in zip(pdf["payload"], pdf["content_type"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["n_bytes"],
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Resize planning (images) and frame sampling (video-like payloads)
# ---------------------------------------------------------------------------


def resize_dims(width: Column, height: Column, max_side: int) -> Column:
    """Aspect-preserving resize PLAN: struct(out_w, out_h) with the long
    side clamped to ``max_side``, never upscaled, floor-rounded with a
    1px floor — pure integer codegen. The pixel resample itself is a
    codec op (PIL/ffmpeg, absent here); computing target geometry
    JVM-side means the expensive Python decode step receives exact
    output dims instead of re-deriving them per worker."""
    if max_side < 1:
        raise ValueError(f"max_side must be >= 1, got {max_side}")
    long_side = F.greatest(width, height)
    scale = F.least(F.lit(1.0), F.lit(float(max_side)) / long_side)
    out = lambda side: F.greatest(F.lit(1), F.floor(side * scale)).cast("int")
    return F.when(
        width.isNotNull() & height.isNotNull() & (width > 0) & (height > 0),
        F.struct(out(width).alias("out_w"), out(height).alias("out_h")),
    )


def frame_sample(
    media: DataFrame,
    n_samples: int,
    n_frames_col: str = "n_frames",
    fps_col: str = "fps",
) -> DataFrame:
    """Evenly-spaced frame sampling for video-like media: one output row
    per sampled frame — (media_id, frame_idx, frame_ts_s) plus the
    payload carried through for the decode stage.

    The sampling plan is PURE JVM: a Generate (explode) over the
    deduplicated index sequence ``floor(i * n_frames / n_samples)``,
    i in [0, n_samples) — no Python, no shuffle, output bounded by
    ``n_samples`` rows per video regardless of duration. Videos with
    fewer frames than ``n_samples`` emit each frame once (the dedup).
    Decode of the sampled frames is the Arrow-batched stub
    (:func:`extract_frame_features`) — real deployments swap in ffmpeg
    seek-and-decode per (payload, frame_ts).
    """
    if n_samples < 1:
        raise ValueError(f"n_samples must be >= 1, got {n_samples}")
    nf = F.col(n_frames_col).cast("long")
    idx = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_samples - 1)),
            lambda i: F.floor(i * nf / n_samples).cast("long"),
        )
    )
    return (
        media.filter(nf > 0)
        .withColumn("frame_idx", F.explode(idx))
        .withColumn(
            "frame_ts_s",
            F.round(F.col("frame_idx") / F.col(fps_col).cast("double"), 6),
        )
    )


FRAME_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def extract_frame_features(frames: DataFrame) -> DataFrame:
    """Arrow-batched per-frame decode (STUB codec): each sampled frame's
    "decode" reads a deterministic byte window of the payload at
    ``frame_idx`` (a stand-in for an ffmpeg seek) and emits the 8-bin
    byte histogram. Payload is dropped on output — only features travel
    onward (never shuffle the binary)."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feats = []
            for payload, idx in zip(pdf["payload"], pdf["frame_idx"]):
                p = bytes(payload)
                start = int(idx) * 64 % max(1, len(p))
                window = p[start : start + 4096] or p[:4096]
                buckets = [0] * 8
                for byte in window:
                    buckets[byte >> 5] += 1
                total = max(1, len(window))
                feats.append([b / total for b in buckets])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"],
                    "feature": feats,
                }
            )

    return frames.mapInPandas(run, FRAME_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# PGM (portable graymap) rendering + parse — images as a query RESULT,
# the reference's basemap-overlay analog done Spark-first.
# ---------------------------------------------------------------------------


def render_pgm(grid: DataFrame, width: int, height: int) -> DataFrame:
    """Render a sparse ``(row, col, n)`` grid (``geo.grid_heatmap``
    output) into a genuine binary P5 PGM image, JVM-side: header
    ``P5\\n{w} {h}\\n255\\n`` + row-major raster, one byte per cell,
    intensity = min(count, 255), absent cells 0. The dense assembly runs
    on ONE row by construction — an image is bounded by its dimensions,
    not the corpus, so this is the legitimate single-row collapse (the
    grid aggregation upstream did the distributed work). Returns a
    1-row frame ``(payload: binary, n_bytes: long)``.
    """
    header = f"P5\n{width} {height}\n255\n"
    header_hex = header.encode("ascii").hex().upper()
    dense = grid.agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (F.col("row").cast("long") * width + F.col("col")).alias("k"),
                    F.col("n").alias("v"),
                )
            )
        ).alias("_m")
    )
    # array_join(transform(...)), NOT an aggregate fold: a fold re-copies
    # the growing accumulator string per cell — O(cells²) bytes for a
    # linear job, which hangs well below plausible image sizes. transform
    # builds each 2-char cell once; the join concatenates once.
    raster_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(width * height - 1)),
            lambda i: F.lpad(
                F.hex(
                    F.least(
                        F.coalesce(F.element_at(F.col("_m"), i), F.lit(0).cast("long")),
                        F.lit(255).cast("long"),
                    )
                ),
                2,
                "0",
            ),
        ),
        "",
    )
    payload = F.unhex(F.concat(F.lit(header_hex), raster_hex))
    return dense.select(
        payload.alias("payload"), F.octet_length(payload).cast("long").alias("n_bytes")
    )


def pgm_parse(payload: Column, max_header: int = 32) -> Column:
    """Parse a P5 PGM from raw bytes, JVM-side: magic, whitespace-
    separated width/height/maxval from the ASCII header (bounded scan —
    the raster may be arbitrary bytes, so nothing is ever cast to
    string beyond the byte being inspected), then the raster byte sum —
    the round-trip proof that :func:`render_pgm` wrote a well-formed
    image. Returns struct(width, height, maxval, raster_sum) or NULL
    for non-PGM bytes.
    """

    def byte_at(i: Column) -> Column:
        return F.conv(F.hex(F.substring(payload, i, 1)), 16, 10).cast("long")

    is_pgm = F.hex(F.substring(payload, 1, 3)) == F.lit("50350A")  # "P5\n"

    # fold over the bounded header region: collect three ASCII ints
    # separated by single whitespace bytes, tracking (offset, field idx,
    # w, h, maxval, done)
    init = F.struct(
        F.lit(4).cast("long").alias("off"),
        F.lit(0).alias("fld"),
        F.lit(0).cast("long").alias("w"),
        F.lit(0).cast("long").alias("h"),
        F.lit(0).cast("long").alias("mx"),
        F.lit(False).alias("done"),
        F.lit(False).alias("bad"),
    )

    def step(acc: Column, _x: Column) -> Column:
        b = byte_at(acc["off"])
        is_digit = (b >= 48) & (b <= 57)
        is_ws = (b == 32) | (b == 10) | (b == 9) | (b == 13)
        cur = F.when(acc["fld"] == 0, acc["w"]).when(acc["fld"] == 1, acc["h"]).otherwise(acc["mx"])
        nxt_val = cur * 10 + (b - 48)
        w2 = F.when(acc["fld"] == 0, F.when(is_digit, nxt_val).otherwise(acc["w"])).otherwise(acc["w"])
        h2 = F.when(acc["fld"] == 1, F.when(is_digit, nxt_val).otherwise(acc["h"])).otherwise(acc["h"])
        m2 = F.when(acc["fld"] == 2, F.when(is_digit, nxt_val).otherwise(acc["mx"])).otherwise(acc["mx"])
        fld2 = F.when(is_ws, acc["fld"] + 1).otherwise(acc["fld"])
        done2 = is_ws & (acc["fld"] == 2)
        bad2 = ~is_digit & ~is_ws
        out = F.struct(
            (acc["off"] + 1).alias("off"),
            fld2.alias("fld"),
            w2.alias("w"),
            h2.alias("h"),
            m2.alias("mx"),
            done2.alias("done"),
            bad2.alias("bad"),
        )
        return F.when(acc["done"] | acc["bad"], acc).otherwise(out)

    final = F.aggregate(F.sequence(F.lit(1), F.lit(max_header)), init, step)
    ok = is_pgm & final["done"] & ~final["bad"] & (final["w"] > 0) & (final["h"] > 0)
    raster_sum = F.aggregate(
        F.sequence(final["off"], final["off"] + final["w"] * final["h"] - 1),
        F.lit(0).cast("long"),
        lambda acc, i: acc + byte_at(i),
    )
    return F.when(
        ok,
        F.struct(
            final["w"].cast("int").alias("width"),
            final["h"].cast("int").alias("height"),
            final["mx"].cast("int").alias("maxval"),
            raster_sum.alias("raster_sum"),
        ),
    )
