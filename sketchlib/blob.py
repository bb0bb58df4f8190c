"""Versioned sketch blob format (SURVEY.md Appendix B).

``header = b'SKB1' + sketch_id:u8 + version:u8 + cfg_len:u16le`` followed by
the config JSON (utf-8) and the payload bytes. Blobs are the unit that flows
through Spark as a ``BinaryType`` column; byte-equality of blobs is the
strongest form of the merge-associativity contract (Bloom/HLL/CMS/MinHash).

This module is the one codec: ``unpack`` checks the header (and, when asked,
the sketch name) and hands the payload out as a zero-copy view, and ``merge``
is the one blob-level merge every sketch module routes through with its own
payload fold. It imports no sketch module.
"""

from __future__ import annotations

import struct
from typing import Callable, Sequence

from sketchlib.config import _Cfg, SketchConfigError

MAGIC = b"SKB1"
VERSION = 1

SKETCH_IDS = {
    "bloom": 1,
    "hll": 2,
    "cms": 3,
    "kll": 4,
    "tdigest": 5,
    "minhash": 6,
    "cuckoo": 7,
}
ID_TO_NAME = {v: k for k, v in SKETCH_IDS.items()}

_HDR = struct.Struct("<4sBBH")


def pack(sketch: str, cfg: _Cfg, payload) -> bytes:
    """Header + config + ``payload`` (any contiguous buffer: bytes, a
    memoryview or a NumPy array), copied once into the returned blob."""
    cfg_json = cfg.to_json().encode("utf-8")
    if len(cfg_json) > 0xFFFF:
        raise SketchConfigError("config JSON too large")
    head = _HDR.pack(MAGIC, SKETCH_IDS[sketch], VERSION, len(cfg_json))
    return b"".join((head, cfg_json, payload))


def unpack(blob, sketch: str | None = None) -> tuple[str, _Cfg, memoryview]:
    """Return (sketch_name, config, payload) of any bytes-like ``blob``. The
    payload is a zero-copy ``memoryview`` into ``blob`` (``np.frombuffer``
    reads it in place). With ``sketch``, a blob of another sketch raises
    ``SketchConfigError``."""
    # cast: Arrow buffers export signed bytes ("b"); payload[i] must read 0-255
    view = memoryview(blob).cast("B")
    if len(view) < _HDR.size:
        raise SketchConfigError("blob too short")
    magic, sid, ver, cfg_len = _HDR.unpack_from(view, 0)
    if magic != MAGIC:
        raise SketchConfigError(f"bad magic {magic!r}")
    if ver != VERSION:
        raise SketchConfigError(f"unsupported blob version {ver}")
    if sid not in ID_TO_NAME:
        raise SketchConfigError(f"unknown sketch id {sid}")
    name = ID_TO_NAME[sid]
    if sketch is not None and name != sketch:
        raise SketchConfigError(f"expected a {sketch} blob, got a {name} blob")
    off = _HDR.size
    if len(view) < off + cfg_len:
        raise SketchConfigError(
            f"blob truncated: header says {cfg_len} config bytes, "
            f"{len(view) - off} available")
    try:
        cfg = _Cfg.from_json(bytes(view[off : off + cfg_len]).decode("utf-8"))
    except (UnicodeDecodeError, ValueError, KeyError, TypeError) as e:
        raise SketchConfigError(f"corrupt blob config: {e!r}") from e
    return name, cfg, view[off + cfg_len :]


def merge(sketch: str, blobs: Sequence, fold: Callable[[_Cfg, list[memoryview]], object]) -> bytes:
    """The one n-ary blob merge: read each header once, require one sketch
    name and one config, hand the payload views (in input order) to
    ``fold(cfg, payloads)`` and pack its merged payload once."""
    if not blobs:
        raise SketchConfigError(f"no {sketch} blobs to merge")
    _, cfg, first = unpack(blobs[0], sketch)
    payloads = [first]
    for b in blobs[1:]:
        _, c, p = unpack(b, sketch)
        cfg.require_same(c)
        payloads.append(p)
    return pack(sketch, cfg, fold(cfg, payloads))
