"""Regression tests for the five ADVICE r14 fixes:

1. parse_mp4_tracks bounds n_samples by MP4_MAX_SAMPLES (a corrupt u32
   stts run count with a matching const-size stsz must raise, never
   materialize a multi-GB list);
2. the const-size stsz lane computes total/max bytes arithmetically;
3. mp4_sample_ranges box-bounds the variable stsz table read (a short
   stsz must raise, never silently read the following boxes' bytes as
   sample sizes into a seek plan);
4. decode_gif_frames rejects logical screens above GIF_MAX_PIXELS
   before allocating the canvas, and its incremental moments match a
   naive full-canvas recomputation exactly;
5. parse_ogg_opus counts audio packets after the first two COMPLETED
   packets (RFC 7845 allows OpusTags to span pages — tags continuation
   pages must not count as audio).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from octopusdb_spark.functions.mp4 import (
    MP4_MAX_SAMPLES,
    build_mp4,
    mp4_sample_ranges,
    parse_mp4_tracks,
)
from octopusdb_spark.functions.multimodal import (
    GIF_MAX_PIXELS,
    decode_gif_frames,
    encode_gif_animation,
)
from octopusdb_spark.functions.ogg import (
    _page,
    build_ogg_opus,
    ogg_crc,
    parse_ogg_opus,
)


def _patch_u32(buf: bytearray, at: int, v: int) -> None:
    struct.pack_into(">I", buf, at, v)


def test_mp4_tracks_stts_count_bound():
    """A 3-billion stts run count with a matching const-size stsz must
    raise the engine bound, not allocate a per-sample list."""
    payload = build_mp4(
        b"isom", 1000, 0, video=(b"avc1", 320, 240),
        video_samples={"stts_runs": [(4, 100)], "sizes": 90,
                       "samples_per_chunk": 2},
    )
    buf = bytearray(payload)
    stts = payload.index(b"stts")
    # box type at stts; body: version/flags(4) entry_count(4) entries...
    _patch_u32(buf, stts + 12, 3_000_000_000)  # first run sample count
    stsz = payload.index(b"stsz")
    # body: version/flags(4) sample_size(4) sample_count(4)
    _patch_u32(buf, stsz + 12, 3_000_000_000)  # matching z_count
    with pytest.raises(ValueError, match="engine bound"):
        parse_mp4_tracks(bytes(buf))
    assert 3_000_000_000 > MP4_MAX_SAMPLES  # the test exercises the cap


def test_mp4_tracks_const_size_arithmetic():
    """The const-size stsz lane: totals are exact without a sizes list."""
    payload = build_mp4(
        b"isom", 1000, 0, video=(b"avc1", 320, 240),
        video_samples={"stts_runs": [(4, 100), (3, 50)], "sizes": 90,
                       "samples_per_chunk": 3},
    )
    (track,) = parse_mp4_tracks(payload)
    assert track["n_samples"] == 7
    assert track["total_bytes"] == 7 * 90
    assert track["max_sample_bytes"] == 90
    assert track["n_chunks"] == 3  # 3+3+1 under samples_per_chunk=3


def test_mp4_sample_ranges_short_stsz_raises():
    """Inflate the declared sample count past the stsz table: the seek
    planner must raise, never read stsc/stco header bytes as sizes."""
    payload = build_mp4(
        b"isom", 1000, 0, video=(b"avc1", 320, 240),
        video_samples={"stts_runs": [(4, 100), (3, 50)],
                       "sizes": [90, 91, 92, 93, 94, 95, 96],
                       "samples_per_chunk": 3},
    )
    buf = bytearray(payload)
    stts = payload.index(b"stts")
    _patch_u32(buf, stts + 12, 97)  # first run: 4 -> 97 (n: 7 -> 100)
    stsz = payload.index(b"stsz")
    _patch_u32(buf, stsz + 12, 100)  # z_count matches the inflated n
    with pytest.raises(ValueError, match="stsz table past box end"):
        mp4_sample_ranges(bytes(buf), 0, 10**9)
    # parse_mp4_tracks keeps the same contract on the same corruption
    with pytest.raises(ValueError, match="stsz table past box end"):
        parse_mp4_tracks(bytes(buf))


def test_gif_canvas_pixel_bound():
    """A 13-byte header declaring 65535x65535 must be rejected before
    any canvas allocation (zip-bomb class)."""
    hdr = b"GIF89a" + struct.pack("<HHBBB", 65535, 65535, 0, 0, 0)
    assert 65535 * 65535 > GIF_MAX_PIXELS
    with pytest.raises(ValueError, match="pixel bound"):
        decode_gif_frames(hdr)


def test_gif_incremental_moments_match_naive():
    """The O(rect) incremental canvas moments equal a naive full-canvas
    int64 recomputation across paints, local palettes, and disposal 2."""
    local = bytes(v for i in range(256) for v in (i, 255 - i, i // 2))
    frames_spec = [
        dict(left=0, top=0, w=16, h=10,
             pixels=bytes((i * 7) % 256 for i in range(160)),
             delay_cs=4, disposal=1),
        dict(left=2, top=3, w=5, h=4,
             pixels=bytes((i * 13) % 256 for i in range(20)),
             delay_cs=5, disposal=2, palette=local),
        dict(left=9, top=1, w=4, h=6,
             pixels=bytes((i * 3) % 256 for i in range(24)),
             delay_cs=6, disposal=1),
    ]
    payload = encode_gif_animation(16, 10, 30, frames_spec)
    decoded = decode_gif_frames(payload)
    assert len(decoded) == 3

    # independent naive composition (global palette is grayscale i,i,i)
    gray = np.array([(i, i, i) for i in range(256)], dtype=np.int64)
    loc = np.frombuffer(local, dtype=np.uint8).astype(np.int64).reshape(-1, 3)
    canvas = np.full((10, 16, 3), 30, dtype=np.int64)
    for spec, got in zip(frames_spec, decoded):
        pal = loc if "palette" in spec else gray
        idx = np.frombuffer(spec["pixels"], dtype=np.uint8).astype(np.int64)
        rect = pal[idx].reshape(spec["h"], spec["w"], 3)
        t, l, h, w = spec["top"], spec["left"], spec["h"], spec["w"]
        canvas[t : t + h, l : l + w] = rect
        assert got["canvas_sum"] == int(canvas.sum())
        assert got["canvas_sumsq"] == int((canvas * canvas).sum())
        if spec["disposal"] == 2:
            canvas[t : t + h, l : l + w] = 30


def _raw_page(serial, seq, granule, htype, lacing, body):
    hdr = (
        b"OggS" + bytes([0, htype])
        + struct.pack("<q", granule)
        + struct.pack("<II", serial, seq)
        + b"\x00\x00\x00\x00"
        + bytes([len(lacing)]) + bytes(lacing)
    )
    page = bytearray(hdr + body)
    page[22:26] = struct.pack("<I", ogg_crc(bytes(page)))
    return bytes(page)


def test_ogg_multipage_tags_not_counted_as_audio():
    """RFC 7845: OpusTags may span pages (cover art). The tags
    continuation page must not be counted as audio packets."""
    serial = 0x42
    head = (
        b"OpusHead" + bytes([1, 1]) + struct.pack("<H", 312)
        + struct.pack("<I", 16000) + struct.pack("<h", 0) + bytes([0])
    )
    tags = b"OpusTags" + struct.pack("<I", 288) + b"c" * 288  # 300 bytes
    out = bytearray()
    out += _page(serial, 0, 0, 0x02, [head])  # BOS, one packet
    # tags packet split across two pages: lacing 255 (mid) then 45
    out += _raw_page(serial, 1, -1, 0x00, [255], tags[:255])  # granule -1: no packet ends here
    out += _raw_page(serial, 2, 0, 0x01, [45], tags[255:])
    # one audio page, 3 packets, EOS
    pkts = [bytes((j * 7 + k) % 251 for k in range(40)) for j in range(3)]
    out += _page(serial, 3, 312 + 3 * 960, 0x04, pkts)
    meta = parse_ogg_opus(bytes(out))
    assert meta["n_pages"] == 4
    assert meta["n_packets"] == 3  # audio only — tags pages excluded
    assert meta["duration_ms"] == 3 * 960 * 1000 // 48000

    # single-page-header files are unchanged by the packet-based count
    single = build_ogg_opus(audio_pages=[(2, 50), (3, 50)])
    m2 = parse_ogg_opus(single)
    assert m2["n_packets"] == 5 and m2["n_pages"] == 4


def test_sidx_unknown_version_raises():
    """Review r15: an unknown sidx version must raise, not decode
    references at version-0 field widths."""
    import struct as _struct

    from octopusdb_spark.functions.mp4 import build_fmp4, parse_fmp4_fragments

    p = bytearray(build_fmp4(fragments=[{"n_samples": 2}],
                             sidx={"version": 0}))
    p[p.find(b"sidx") + 4] = 2  # version byte of the fullbox
    with pytest.raises(ValueError, match="unsupported sidx version"):
        parse_fmp4_fragments(bytes(p))


def test_sidx_mid_file_references_following_fragments():
    """Review r15: a sidx between fragments (live/segment-appended
    layout) indexes only the fragments AFTER it — the preceding
    fragment carries nulls and the following one still cross-checks
    aligned."""
    import struct as _struct

    from octopusdb_spark.functions.mp4 import build_fmp4, parse_fmp4_fragments

    frags = [
        {"n_samples": 3, "durations": [100, 110, 120],
         "sizes": [50, 51, 52]},
        {"n_samples": 2},  # trex defaults: 2*100 ticks, 2*200 bytes
    ]
    p = build_fmp4(fragments=frags)
    # top-level box walk to find the second fragment's moof start
    spans, pos = [], 0
    while pos < len(p):
        size, = _struct.unpack_from(">I", p, pos)
        if size == 1:
            big, = _struct.unpack_from(">Q", p, pos + 8)
            end = pos + big
        else:
            end = pos + size
        spans.append((p[pos + 4 : pos + 8], pos, end))
        pos = end
    moofs = [i for i, (t, _, _) in enumerate(spans) if t == b"moof"]
    frag1_start = spans[moofs[1]][1]
    frag1_len = spans[moofs[1] + 1][2] - frag1_start  # moof+mdat span
    # hand-build a v0 sidx referencing ONLY the second fragment
    body = _struct.pack(">BBH", 0, 0, 0)  # version/flags
    body += _struct.pack(">II", 1, 1000)  # refid, timescale
    body += _struct.pack(">II", 0, 0)  # ept, first_offset
    body += _struct.pack(">HH", 0, 1)  # reserved, count
    body += _struct.pack(">III", frag1_len, 200, 0x90000000)
    sidx = _struct.pack(">I", 8 + len(body)) + b"sidx" + body
    p2 = p[:frag1_start] + sidx + p[frag1_start:]
    out = parse_fmp4_fragments(p2)
    assert out[0]["sidx_aligned"] is None  # before the index: no claim
    assert out[1]["sidx_aligned"] is True
    assert out[1]["sidx_ref_size"] == frag1_len
    assert out[1]["sidx_dur_ms"] == 200


def test_ogg_packet_flood_stays_bounded():
    """Review r15: a page of zero-length packets must not materialize
    per-packet state — parse cost is O(input), state O(1)."""
    from octopusdb_spark.functions.ogg import (
        _page,
        build_ogg_opus,
        parse_ogg_opus,
    )

    base = build_ogg_opus(9, audio_pages=[(1, 10)])
    pages, pos = [], 0
    while pos < len(base):
        nsegs = base[pos + 26]
        end = pos + 27 + nsegs + sum(base[pos + 27 : pos + 27 + nsegs])
        pages.append(base[pos:end])
        pos = end
    # a flood page: 200 zero-length packets — all complete, all audio.
    # zero-length AUDIO packets are malformed Opus (no TOC byte), so
    # the walk must raise LOUDLY at the first one, after O(1) work —
    # not accumulate 200 head tuples first
    flood = _raw_page(9, 2, -1, 0x00, [0] * 200, b"")
    with pytest.raises(ValueError, match="zero-length Opus audio packet"):
        parse_ogg_opus(pages[0] + pages[1] + flood + pages[2])
