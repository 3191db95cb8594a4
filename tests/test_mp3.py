"""MP3 Layer III (codecs_mp3, round 5 — VERDICT r4 item 6).

Verification strategy (module docstring has the full rationale):

- STRUCTURE layers (header arithmetic, side-info bit layout, the
  reservoir protocol) are pinned by exact synthetic goldens AND by a
  strict sync-walk over real third-party MP3 files present in the
  container — one wrong bitrate/sample-rate/length table entry desyncs
  on the first real frame.
- The SPECTRAL chain's bitstream plumbing is driven end-to-end through
  decode_mp3 with synthetic tables (the PLIERS_SPARK_MP3_TABLES deploy
  mechanism, same shape as the VADER lexicon swap) over a self-written
  conformant frame; the DSP stages are checked against direct-formula
  recomputation.  The published Huffman/window tables' literal contents
  are the only thing not tested — by design, they are unfetchable data.
"""

import json
import os

import numpy as np
import pytest

from pliers_spark import codecs_mp3 as M

CROWD = "/root/reference/pliers/tests/data/audio/crowd.mp3"
GSUTIL = "/usr/lib/google-cloud-sdk/platform/gsutil/gslib/tests/test_data/test.mp3"


# ---------------------------------------------------------------------------
# structure: synthetic goldens


def _header_bytes(br_idx: int, sr_idx: int, pad: int, mode: int) -> bytes:
    h = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
    h |= (br_idx << 12) | (sr_idx << 10) | (pad << 9) | (mode << 6)
    return h.to_bytes(4, "big")


def test_header_parse_golden():
    # 128 kbps, 44100 Hz, padded, joint stereo (crowd.mp3's profile)
    fh = M.parse_frame_header(_header_bytes(9, 0, 1, 1), 0)
    assert (fh.bitrate_kbps, fh.sample_rate, fh.padded) == (128, 44100, 1)
    assert fh.mode == "joint_stereo" and fh.frame_len == 418
    assert fh.samples == 1152 and fh.side_info_len == 32 and not fh.crc
    # 64 kbps mono 44100: 144*64000//44100 = 208
    fh = M.parse_frame_header(_header_bytes(5, 0, 0, 3), 0)
    assert fh.frame_len == 208 and fh.side_info_len == 17
    with pytest.raises(M.Mp3FormatError):
        M.parse_frame_header(b"\x00\x00\x00\x00", 0)
    with pytest.raises(M.Mp3FormatError):  # reserved bitrate index 15
        M.parse_frame_header(_header_bytes(15, 0, 0, 3), 0)


def test_frame_walk_synthetic_mixed_bitrates():
    """A stream alternating bitrate indices + padding must index back
    exactly (offset arithmetic is the whole test)."""
    chunks, offs, off = [], [], 0
    for i, (br, pad) in enumerate([(5, 0), (9, 1), (12, 0), (5, 1), (14, 0)]):
        fh = M.parse_frame_header(_header_bytes(br, 0, pad, 3), 0)
        body = bytes([(i * 37 + j) % 251 for j in range(fh.frame_len - 4)])
        chunks.append(_header_bytes(br, 0, pad, 3) + body)
        offs.append(off)
        off += fh.frame_len
    data = b"".join(chunks)
    frames = M.index_frames(data)
    assert [f.offset for f in frames] == offs
    assert [f.bitrate_kbps for f in frames] == [64, 128, 224, 64, 320]


def test_id3v2_and_id3v1_tags_are_skipped():
    fh0 = _header_bytes(5, 0, 0, 3)
    frame = fh0 + bytes(204)
    tag2 = b"ID3\x03\x00\x00" + bytes([0, 0, 0, 10]) + bytes(10)
    tag1 = b"TAG" + bytes(125)
    frames = M.index_frames(tag2 + frame + frame + tag1)
    assert len(frames) == 2 and frames[0].offset == 20


# ---------------------------------------------------------------------------
# structure: REAL third-party files (strict sync-walk = table validation)


@pytest.mark.skipif(not os.path.exists(CROWD), reason="reference data absent")
def test_real_file_crowd_strict_sync_walk():
    data = open(CROWD, "rb").read()
    frames = M.index_frames(data)  # strict: any length error raises
    assert len(frames) > 500
    assert {f.sample_rate for f in frames} == {44100}
    assert all(f.is_mpeg1 for f in frames)
    # every computed frame boundary landed on a sync — now the stats
    # surface, including the side-info/reservoir audit over all frames
    st = M.mp3_stream_stats(data)
    assert st["n_frames"] == len(frames)
    assert st["reservoir_violations"] == 0, "main_data_begin overran reservoir"
    assert st["block_type_violations"] == 0, "switched granule with block_type 0"
    assert st["duration_s"] == round(len(frames) * 1152 / 44100, 6)


@pytest.mark.skipif(not os.path.exists(GSUTIL), reason="gsutil data absent")
def test_real_file_gsutil_sync_walk():
    data = open(GSUTIL, "rb").read()
    frames = M.index_frames(data)
    assert frames, "no frames indexed"
    st = M.mp3_stream_stats(data)
    assert st["n_frames"] == len(frames) and st["duration_s"] > 0


def test_side_info_bit_layout_golden():
    """Hand-packed 17-byte mono side info -> parsed fields, bit-exact."""
    bits = []

    def put(v, k):
        bits.extend((v >> (k - 1 - i)) & 1 for i in range(k))

    put(257, 9)           # main_data_begin
    put(0, 5)             # private
    put(0b1010, 4)        # scfsi
    for gg in (210, 214):  # two granules, distinct global_gain
        put(1496, 12)     # part2_3_length
        put(18, 9)        # big_values
        put(gg, 8)
        put(0, 4)         # scalefac_compress
        put(0, 1)         # window_switching
        put(1, 5); put(16, 5); put(0, 5)   # table_select
        put(5, 4)         # region0_count
        put(3, 3)         # region1_count
        put(0, 1); put(1, 1); put(0, 1)    # preflag, scalefac_scale, count1table
    raw = bytes(
        int("".join(map(str, bits[i : i + 8])), 2) for i in range(0, len(bits), 8)
    )
    frame = _header_bytes(5, 0, 0, 3) + raw + bytes(208 - 4 - 17)
    fh = M.parse_frame_header(frame, 0)
    si = M.parse_side_info(frame, fh)
    assert si.main_data_begin == 257
    assert si.scfsi == ((1, 0, 1, 0),)
    g0, g1 = si.granules[0][0], si.granules[1][0]
    assert (g0.part2_3_length, g0.big_values, g0.global_gain) == (1496, 18, 210)
    assert g1.global_gain == 214
    assert g0.table_select == (1, 16, 0)
    assert (g0.region0_count, g0.region1_count) == (5, 3)
    assert g0.scalefac_scale == 1 and g0.count1table_select == 0


# ---------------------------------------------------------------------------
# DSP stages vs direct-formula recomputation


def test_requantize_power_law_values():
    iq = np.array([0, 1, -1, 8, -8, 64], dtype=np.int64)
    xr = M.requantize(iq, 210)          # gain factor 2^0 = 1
    # 8^(4/3)=16, 64^(4/3)=256 up to the 1-ulp float pow residue
    assert np.allclose(xr, [0.0, 1.0, -1.0, 16.0, -16.0, 256.0], rtol=1e-12)
    assert np.allclose(M.requantize(np.array([8]), 214), [32.0], rtol=1e-12)


def test_alias_reduction_is_orthogonal_and_local():
    rng = np.random.default_rng(7)
    xr = rng.standard_normal(576)
    out = M.alias_reduce(xr)
    # each (cs, ca) butterfly is a rotation: total energy preserved
    assert np.isclose((out**2).sum(), (xr**2).sum())
    # each boundary touches ±8 lines; only lines 18k+8, 18k+9 escape
    assert np.allclose(out[0:10], xr[0:10])
    assert np.allclose(out[26:28], xr[26:28])
    assert np.allclose(out[44:46], xr[44:46])
    assert not np.allclose(out[17], xr[17])  # boundary line moved


def test_imdct_matches_direct_formula_and_window_shapes():
    rng = np.random.default_rng(11)
    x = rng.standard_normal(18)
    z = M._imdct(36, x)
    # direct scalar recomputation
    ref = [
        sum(x[k] * np.cos(np.pi / 72 * (2 * i + 1 + 18) * (2 * k + 1))
            for k in range(18))
        for i in range(36)
    ]
    assert np.allclose(z, ref)
    w0 = M.imdct_window(0)
    assert np.isclose(w0[0], np.sin(np.pi / 72)) and len(w0) == 36
    w1, w3 = M.imdct_window(1), M.imdct_window(3)
    assert np.allclose(w1[18:24], 1.0) and np.allclose(w1[30:], 0.0)
    assert np.allclose(w3[12:18], 1.0) and np.allclose(w3[:6], 0.0)
    # start/stop are time-mirrors of each other
    assert np.allclose(w1, w3[::-1])


def test_overlap_add_and_frequency_inversion():
    x = np.zeros(18); x[0] = 1.0
    prev = np.ones(18)
    out, carry = M.hybrid_synthesis_long(x, 0, prev)
    z = M._imdct(36, x) * M.imdct_window(0)
    assert np.allclose(out, z[:18] + 1.0) and np.allclose(carry, z[18:])
    sb = np.ones((18, 32))
    fi = M.frequency_inversion(sb)
    assert fi[1, 1] == -1.0 and fi[1, 2] == 1.0 and fi[2, 1] == 1.0
    assert (fi**2 == 1.0).all()


def test_polyphase_synthesis_matches_direct_loop():
    """The vector path vs an independent index-by-index transcription of
    the published shift/matrix/window/sum procedure."""
    rng = np.random.default_rng(3)
    sb = rng.standard_normal((18, 32))
    d = rng.standard_normal(512) * 1e-3
    out, v_end = M.polyphase_synthesis(sb, d, np.zeros(1024))
    # direct re-implementation
    v = np.zeros(1024)
    ref = np.empty(576)
    N = np.array(
        [[np.cos((16 + i) * (2 * k + 1) * np.pi / 32) for k in range(32)]
         for i in range(64)]
    )
    for t in range(18):
        v = np.concatenate([np.zeros(64), v[:-64]])
        v[:64] = N @ sb[t]
        u = np.empty(512)
        for j in range(8):
            u[j * 64 : j * 64 + 32] = v[j * 128 : j * 128 + 32]
            u[j * 64 + 32 : j * 64 + 64] = v[j * 128 + 96 : j * 128 + 128]
        w = u * d
        for s in range(32):
            ref[t * 32 + s] = sum(w[s + 32 * b] for b in range(16))
    assert np.allclose(out, ref)
    assert np.allclose(v_end, v)


# ---------------------------------------------------------------------------
# the gated spectral path end-to-end with synthetic tables


def _synthetic_tables() -> dict:
    # prefix-free toy Huffman tables: id 1 covers (x,y) in {0,1}²;
    # id 16 is an escape table with linbits=4 covering {0,15}²
    huff = {
        "1": [[0, 0, 1, 0b1], [1, 0, 2, 0b01], [0, 1, 3, 0b001], [1, 1, 3, 0b000]],
        "16": [[0, 0, 2, 0b11], [15, 0, 2, 0b10], [0, 15, 2, 0b01],
               [15, 15, 2, 0b00]],
    }
    # count1 table: all 16 quadruples as fixed 4-bit codes (v XOR 15)
    count1 = {
        "0": [[v ^ 15, 4, (v >> 3) & 1, (v >> 2) & 1, (v >> 1) & 1, v & 1]
              for v in range(16)],
        "1": [[v, 4, (v >> 3) & 1, (v >> 2) & 1, (v >> 1) & 1, v & 1]
              for v in range(16)],
    }
    i = np.arange(512)
    window = (np.sin(np.pi * (i + 0.5) / 512) / 64).tolist()
    return {
        "huffman": huff,
        "count1": count1,
        "linbits": {"16": 4},
        "region_bounds": [36, 576],
        "synth_window": window,
    }


class _BitWriter:
    def __init__(self):
        self.bits = []

    def put(self, v, k):
        self.bits.extend((v >> (k - 1 - i)) & 1 for i in range(k))

    def __len__(self):
        return len(self.bits)

    def bytes_padded(self, n):
        bits = self.bits + [0] * (n * 8 - len(self.bits))
        return bytes(
            int("".join(map(str, bits[i : i + 8])), 2) for i in range(0, n * 8, 8)
        )


def _write_granule(w, spectrum_pairs, quads, table_id, c1sel):
    """Emit Huffman bits for big-value pairs + count1 quads; returns the
    exact bit count (the part2_3_length to advertise)."""
    tabs = _synthetic_tables()
    codes = {(x, y): (c, l) for x, y, l, c in
             [(r[0], r[1], r[2], r[3]) for r in tabs["huffman"][str(table_id)]]}
    start = len(w)
    for x, y in spectrum_pairs:
        c, l = codes[(abs(x) if abs(x) < 15 else 15, abs(y) if abs(y) < 15 else 15)]
        w.put(c, l)
        for v in (x, y):
            if abs(v) >= 15 and table_id == 16:
                w.put(abs(v) - 15, 4)
            if v:
                w.put(1 if v < 0 else 0, 1)
    c1 = {tuple(r[2:]): (r[0], r[1]) for r in tabs["count1"][str(c1sel)]}
    for quad in quads:
        c, l = c1[tuple(1 if v else 0 for v in quad)]
        w.put(c, l)
        for v in quad:
            if v:
                w.put(1 if v < 0 else 0, 1)
    return len(w) - start


def _craft_frame(g_specs):
    """One mono 64 kbps 44.1 kHz frame (208 bytes) holding two granules
    of hand-chosen spectra; returns (frame_bytes, expected_spectra)."""
    main = _BitWriter()
    metas = []
    expected = []
    for pairs, quads, table_id, c1sel, gg in g_specs:
        used = _write_granule(main, pairs, quads, table_id, c1sel)
        metas.append((len(pairs), used, table_id, c1sel, gg))
        xs = np.zeros(576, dtype=np.int64)
        flat = [v for p in pairs for v in p] + [v for q in quads for v in q]
        xs[: len(flat)] = flat
        expected.append(xs)
    side = _BitWriter()
    side.put(0, 9)   # main_data_begin = 0 (no reservoir)
    side.put(0, 5)
    side.put(0, 4)   # scfsi
    for nbv, used, table_id, c1sel, gg in metas:
        side.put(used, 12)
        side.put(nbv, 9)
        side.put(gg, 8)
        side.put(0, 4)            # scalefac_compress=0 -> zero part2 bits
        side.put(0, 1)            # long blocks
        side.put(table_id, 5); side.put(0, 5); side.put(0, 5)
        side.put(0, 4); side.put(0, 3)
        side.put(0, 1); side.put(0, 1); side.put(c1sel, 1)
    frame = (
        _header_bytes(5, 0, 0, 3)
        + side.bytes_padded(17)
        + main.bytes_padded(208 - 4 - 17)
    )
    assert len(frame) == 208
    return frame, expected


def test_gated_decode_end_to_end_with_synthetic_tables(monkeypatch):
    """decode_mp3 through the PLIERS_SPARK_MP3_TABLES mechanism on a
    self-written conformant frame: Huffman plumbing (incl. linbits
    escapes, sign bits, count1 quads, exact part2_3 budget), then the
    full DSP chain — output equals the same spectra pushed through the
    stage functions directly."""
    pairs0 = [(1, 0), (0, -1), (1, 1), (-1, 1)] + [(0, 0)] * 2
    quads0 = [(1, 0, -1, 0), (0, 0, 0, 1)]
    pairs1 = [(16, 0), (0, -17), (15, 15)] + [(0, 0)] * 3
    frame, expected = _craft_frame(
        [(pairs0, quads0, 1, 0, 214), (pairs1, [], 16, 1, 210)]
    )
    tabs = _synthetic_tables()
    M.set_tables(tabs)
    try:
        pcm, sr = M.decode_mp3(frame)
        assert sr == 44100 and pcm.shape == (1152,)
        # independent recomputation from the KNOWN spectra
        d = np.asarray(tabs["synth_window"])
        v_state = np.zeros(1024)
        overlaps = np.zeros((32, 18))
        ref = []
        for xs, gg in zip(expected, (214, 210)):
            xr = M.alias_reduce(M.requantize(xs, gg))
            sb = np.empty((18, 32))
            for band in range(32):
                out, overlaps[band] = M.hybrid_synthesis_long(
                    xr[band * 18 : (band + 1) * 18], 0, overlaps[band]
                )
                sb[:, band] = out
            out, v_state = M.polyphase_synthesis(
                M.frequency_inversion(sb), d, v_state
            )
            ref.append(out)
        assert np.allclose(pcm, np.concatenate(ref))
        assert np.abs(pcm).max() > 0  # nonzero audio actually decoded
    finally:
        M.set_tables(None)


def test_part2_3_budget_mismatch_is_detected(monkeypatch):
    """Corrupting one advertised bit of part2_3_length must raise —
    the self-check that would catch a wrong Huffman table on a real
    stream rather than emit garbage."""
    frame, _ = _craft_frame([([(1, 0)], [], 1, 0, 210), ([], [], 1, 0, 210)])
    b = bytearray(frame)
    # granule 0 part2_3_length is the first 12 bits after the 18
    # side-info preamble bits: bump its low bit (bit index 18+11=29)
    byte_i, bit_i = 4 + (29 >> 3), 29 & 7
    b[byte_i] ^= 1 << (7 - bit_i)
    M.set_tables(_synthetic_tables())
    try:
        with pytest.raises(M.Mp3FormatError):
            M.decode_mp3(bytes(b))
    finally:
        M.set_tables(None)


def test_tables_gate_raises_with_deploy_instructions(monkeypatch):
    frame, _ = _craft_frame([([], [], 1, 0, 210), ([], [], 1, 0, 210)])
    M.set_tables(None)
    monkeypatch.delenv("PLIERS_SPARK_MP3_TABLES", raising=False)
    with pytest.raises(M.Mp3TablesUnavailable, match="PLIERS_SPARK_MP3_TABLES"):
        M.decode_mp3(frame)
    # the structure layer keeps working without tables
    assert M.mp3_stream_stats(frame)["n_frames"] == 1


def test_tables_env_file_roundtrip(tmp_path, monkeypatch):
    p = tmp_path / "mp3_tables.json"
    p.write_text(json.dumps(_synthetic_tables()))
    M.set_tables(None)
    monkeypatch.setenv("PLIERS_SPARK_MP3_TABLES", str(p))
    try:
        t = M.load_tables()
        assert len(t["synth_window"]) == 512 and "huffman" in t
        dec = M.build_huffman_decoder([list(r) for r in t["huffman"]["1"]])
        assert dec[(0b1, 1)] == (0, 0) and dec[(0b000, 3)] == (1, 1)
    finally:
        M.set_tables(None)


def test_huffman_prefix_violation_detected():
    with pytest.raises(M.Mp3FormatError, match="prefix"):
        M.build_huffman_decoder([[0, 0, 1, 0b1], [1, 0, 2, 0b11]])
    with pytest.raises(M.Mp3FormatError, match="duplicate"):
        M.build_huffman_decoder([[0, 0, 2, 0b01], [1, 0, 2, 0b01]])


# ---------------------------------------------------------------------------
# round-5 review regressions


def test_truncated_id3_marker_terminates():
    """A truncated 'ID3' marker after the last frame used to loop
    forever (skip_id3v2 returned 0 and the walk never advanced) — one
    malformed payload would hang the whole mapInPandas task. Now it
    terminates as trailing junk."""
    frame = _header_bytes(5, 0, 0, 3) + bytes(204)
    frames = M.index_frames(frame + b"ID3\x00")
    assert len(frames) == 1
    # mid-stream full tag still skipped via the offset-based walk
    tag = b"ID3\x03\x00\x00" + bytes([0, 0, 0, 4]) + bytes(4)
    frames = M.index_frames(frame + tag + frame)
    assert len(frames) == 2


def test_set_tables_invalidates_decoder_cache():
    """Swapping table sets (synthetic -> deployed real file) must not
    serve stale Huffman decoders from the cache."""
    ta = _synthetic_tables()
    M.set_tables(ta)
    try:
        assert M._decoder_cache(ta["huffman"], 1)[(0b1, 1)] == (0, 0)
        tb = _synthetic_tables()
        tb["huffman"]["1"] = [[1, 1, 1, 0b1], [0, 0, 2, 0b01],
                              [1, 0, 3, 0b001], [0, 1, 3, 0b000]]
        M.set_tables(tb)
        assert M._decoder_cache(tb["huffman"], 1)[(0b1, 1)] == (1, 1)
    finally:
        M.set_tables(None)


def test_sfband_sets_per_granule_region_bounds(monkeypatch):
    """With a deployed scalefactor-band table, big-values region
    boundaries follow the granule's region0/region1_count (the spec
    rule) instead of a static pair — the piece the deploy story needs
    for real streams."""
    tabs = _synthetic_tables()
    del tabs["region_bounds"]
    # toy band table: 36-wide bands, so region0 (region0_count=0 ->
    # boundary sfband[1]=36) covers the whole 6-line big-values block
    tabs["sfband"] = list(range(0, 577, 36))
    pairs = [(1, 0), (0, -1), (1, 1)]  # big_values=3 -> 6 lines
    frame, expected = _craft_frame([(pairs, [], 1, 0, 214), ([], [], 1, 0, 210)])
    M.set_tables(tabs)
    try:
        pcm, sr = M.decode_mp3(frame)
        assert sr == 44100 and pcm.shape == (1152,)
    finally:
        M.set_tables(None)


def _granule(**kw):
    """A long-block mono granule, zero tables, overridable fields."""
    base = dict(part2_3_length=0, big_values=0, global_gain=210,
                scalefac_compress=0, window_switching=0, block_type=0,
                mixed_block=0, table_select=(0, 0, 0), subblock_gain=(0, 0, 0),
                region0_count=0, region1_count=0, preflag=0, scalefac_scale=0,
                count1table_select=0)
    return M.GranuleInfo(**{**base, **kw})


def test_big_values_over_576_lines_is_format_error():
    """big_values is a raw 9-bit field (up to 511 pairs = 1022 lines):
    a corrupt granule used to index past the 576-line spectrum and die
    with a raw IndexError."""
    tabs = _synthetic_tables()
    with pytest.raises(M.Mp3FormatError, match="big_values"):
        M.decode_granule_spectrum(M._Bits(bytes(187)), _granule(big_values=400), tabs)
    # 288 pairs = exactly 576 lines is still legal
    xs = M.decode_granule_spectrum(M._Bits(bytes(187)), _granule(big_values=288), tabs)
    assert xs.shape == (576,) and not xs.any()


def test_part2_3_budget_past_main_data_is_format_error():
    """A part2_3_length larger than the frame's main data is rejected
    before any bit is read, and a raw read past the buffer is a format
    error too (it used to surface as IndexError)."""
    with pytest.raises(M.Mp3FormatError, match="part2_3_length"):
        M.decode_granule_spectrum(
            M._Bits(bytes(10)), _granule(part2_3_length=81), _synthetic_tables()
        )
    bits = M._Bits(b"\xff")
    assert bits.read(8) == 0xFF
    with pytest.raises(M.Mp3FormatError, match="overruns"):
        bits.read(1)


def test_id3v2_footer_flag_is_skipped():
    """An ID3v2.4 tag with the footer flag (0x10) is 10 bytes longer
    than its syncsafe size says; a mid-stream one used to leave the
    strict walk 10 bytes short of the next sync."""
    frame = _header_bytes(5, 0, 0, 3) + bytes(204)
    tag = b"ID3\x04\x00\x10" + bytes([0, 0, 0, 4]) + bytes(4) + b"3DI" + bytes(7)
    assert M.skip_id3v2(tag) == len(tag) == 24
    frames = M.index_frames(frame + tag + frame)
    assert [f.offset for f in frames] == [0, 208 + 24]


def test_stream_stats_rejects_mixed_sample_rates():
    """A spliced stream whose frames disagree on sample rate has no
    single duration: reject it instead of dividing every frame's
    samples by the first frame's rate."""
    f441 = _header_bytes(5, 0, 0, 3) + bytes(204)  # 44.1 kHz, 208 bytes
    f48 = _header_bytes(5, 1, 0, 3) + bytes(188)   # 48 kHz, 192 bytes
    assert M.mp3_stream_stats(f441 + f441)["sample_rate"] == 44100
    with pytest.raises(M.Mp3FormatError, match="sample rate"):
        M.mp3_stream_stats(f441 + f48)


# ---------------------------------------------------------------------------
# fuzz: arbitrary bytes must terminate with a clean outcome (the hang
# class the ID3 regression above belongs to)

from hypothesis import given, settings, strategies as st


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=2048))
def test_index_frames_fuzz_terminates(data):
    """Any byte string: index_frames either returns a frame list or
    raises Mp3FormatError — never hangs, never raises anything else."""
    try:
        frames = M.index_frames(data)
    except M.Mp3FormatError:
        return
    for fh in frames:
        assert 0 <= fh.offset < len(data)
        assert fh.offset + fh.frame_len <= len(data)


@settings(max_examples=120, deadline=None)
@given(st.integers(0, 2**32 - 1), st.binary(max_size=64), st.binary(max_size=64))
def test_index_frames_fuzz_around_valid_frame(h32, prefix, suffix):
    """A junk-wrapped header: parse_frame_header's accept/reject line is
    total (no IndexError/KeyError on any 32-bit header), and when a
    stream IS indexed its frames stay in bounds."""
    hdr = h32.to_bytes(4, "big")
    try:
        fh = M.parse_frame_header(hdr + bytes(512), 0)
        body = bytes(fh.frame_len - 4)
    except M.Mp3FormatError:
        body = b""
    data = prefix + hdr + body + suffix
    try:
        frames = M.index_frames(data)
    except M.Mp3FormatError:
        return
    for f in frames:
        assert f.offset + f.frame_len <= len(data)


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=32, max_size=64))
def test_side_info_parse_total_on_random_bytes(raw):
    """parse_side_info on arbitrary side-info bytes is total: every
    field is a fixed-width read, so any 32-byte buffer parses without
    exception (values are range-bounded by their widths)."""
    frame = _header_bytes(9, 0, 1, 1) + raw[:32] + bytes(418 - 4 - 32)
    fh = M.parse_frame_header(frame, 0)
    si = M.parse_side_info(frame, fh)
    assert 0 <= si.main_data_begin <= 511
    for gr in si.granules:
        for g in gr:
            assert 0 <= g.part2_3_length <= 4095
            assert 0 <= g.block_type <= 3
