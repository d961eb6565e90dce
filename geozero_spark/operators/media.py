"""Multimodal binary columns: decode / resize / frame-sample plumbing.

The training-data mandate treats image/audio/video as opaque ``binary``
columns with typed metadata extracted by Arrow-batched passes.
``media_meta`` types three container formats by magic bytes:

- **PNG**: real header parse — signature + IHDR width/height (public
  spec; the IHDR chunk is required first);
- **JPEG**: real header parse — marker WALK to the first SOFn frame
  header (ITU T.81), skipping APPn/DQT/... segments by their lengths;
- the deterministic fake video container from sources/pages.media_blob
  (``VID1;w=..;h=..;f=..;`` + payload).

Full pixel decode (PIL/ffmpeg/...) is not in this container, so that
step stays STUBBED behind HAVE_REAL_CODECS — but the header typing is
real-bytes real, and the plumbing is exactly what a full decoder plugs
into: one ``mapInArrow`` pass over the binary column, dispatch by magic
bytes, per-row work a header parse.
Downstream it computes the math a pipeline needs:

- thumbnail resize: fit into ``thumb`` x ``thumb`` preserving aspect,
  integer floor division (``w * thumb // max(w, h)``, min 1);
- frame sampling: up to ``max_frames`` evenly spaced frame indices,
  ``idx_k = k * f // n`` (the ffmpeg-style select-every-nth dual).

Swap ``_parse_fake`` for a real decoder (guarded by the import-try
below) and every downstream column keeps working — that is the point
of the exercise. All emitted values derive from the shared SQL
arithmetic, so the operator is fully DuckDB-oracled despite the
binary input.
"""

from __future__ import annotations

import re
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame

try:  # real decoders would slot in here; absent in this container
    import PIL  # noqa: F401
    HAVE_REAL_CODECS = True
except ImportError:
    HAVE_REAL_CODECS = False

MEDIA_SCHEMA = ("doc_id bigint, kind string, width int, height int, "
                "n_frames int, thumb_w int, thumb_h int, "
                "n_sampled int, sample_sum bigint, payload_len int")
_NAMES = [c.split()[0] for c in MEDIA_SCHEMA.split(", ")]
_TYPES = [pa.string()] + [pa.int32()] * 6 + [pa.int64(), pa.int32()]


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# SOFn markers that carry frame dimensions (public JPEG spec, ITU T.81
# table B.1) — everything C0..CF except DHT (C4), JPG (C8), DAC (CC)
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
             0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def _png_dims(b: bytes):
    """(width, height) from the IHDR chunk, which the spec requires
    first; None when malformed."""
    if len(b) >= 24 and b[12:16] == b"IHDR":
        return (int.from_bytes(b[16:20], "big"),
                int.from_bytes(b[20:24], "big"))
    return None


def _jpeg_dims(b: bytes):
    """(width, height) from the first SOFn marker. A real marker WALK
    (skip APPn/DQT/... by their segment lengths), not a fixed-offset
    peek — bounded by the header, never touches entropy-coded data."""
    i, n = 2, len(b)
    while i + 4 <= n:
        if b[i] != 0xFF:
            return None
        m = b[i + 1]
        if m in _JPEG_SOF:
            if i + 9 <= n:
                return (int.from_bytes(b[i + 7:i + 9], "big"),
                        int.from_bytes(b[i + 5:i + 7], "big"))
            return None
        if m in (0xD9, 0xDA):  # EOI / start-of-scan: no SOF seen
            return None
        if m == 0xFF:  # fill byte: consumes ONE byte (T.81 B.1.1.2),
            i += 1     # the next 0xFF+marker pair is re-tested whole
            continue
        if 0xD0 <= m <= 0xD7 or m == 0x01:  # standalone markers
            i += 2
            continue
        seg = int.from_bytes(b[i + 2:i + 4], "big")
        if seg < 2:
            return None
        i += 2 + seg
    return None


_FAKE = re.compile(r"^(VID1);w=(\d+);h=(\d+);f=(\d+);(p*)$")
_NO_HEADER = (None,) * 5


def _parse_media(blob: bytes | None) -> tuple:
    """Dispatch by magic bytes: real PNG / JPEG headers (public specs,
    no codec required — stills, n_frames=1, payload_len=blob bytes)
    or the fake video container. Returns (kind, width, height,
    n_frames, payload_len); unknown magic / malformed / null -> all
    None (never a raise)."""
    if blob is None:
        return _NO_HEADER
    for magic, parser, kind in ((_PNG_SIG, _png_dims, "PNG"),
                                (b"\xff\xd8", _jpeg_dims, "JPEG")):
        if blob.startswith(magic):
            d = parser(blob)
            return (kind, d[0], d[1], 1, len(blob)) if d else _NO_HEADER
    m = _FAKE.match(blob.decode("utf-8", "replace"))
    if m is None:
        return _NO_HEADER
    return m[1], int(m[2]), int(m[3]), int(m[4]), len(m[5])


def media_meta(df: DataFrame, media_col: str = "media",
               key: str = "doc_id", thumb: int = 64,
               max_frames: int = 3) -> DataFrame:
    """binary media column -> typed metadata + resize/sample plan."""

    def plan(blob):
        kind, w, h, f, plen = _parse_media(blob)
        if w is None:
            return kind, w, h, f, None, None, None, None, plen
        m = max(w, h)
        ns = min(f, max_frames)
        # a 0x0 frame floors to a 1x1 thumbnail
        return (kind, w, h, f,
                max(1, w * thumb // m if m else 0),
                max(1, h * thumb // m if m else 0), ns,
                # sum of the evenly spaced frame indices k*f//ns
                sum(k * f // ns for k in range(ns)), plen)

    def run(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in it:
            cols = list(zip(*map(plan, b.column(media_col).to_pylist())))
            if not cols:
                continue
            yield pa.RecordBatch.from_arrays(
                [b.column(key).cast(pa.int64())]
                + [pa.array(c, t) for c, t in zip(cols, _TYPES)],
                names=_NAMES)

    return df.mapInArrow(run, MEDIA_SCHEMA)
