"""Property-based tests (hypothesis): marker grammar round-trip, the parse
UDF's page-text kernel against the oracle's regex, severity scalar
total-function properties, router totality. Pure Python — no Spark —
so they run in milliseconds and fuzz the byte-level grammar hard."""

import json
import string

from hypothesis import example, given, settings
from hypothesis import strategies as st

from weblog_pipeline.config import DEFAULT_ROUTES, route_event
from weblog_pipeline.markers import (
    _TEXT_RE,
    SpanEvent,
    extract_text,
    parse_markers,
    render_marker,
)
from weblog_pipeline.parse import _page_text
from weblog_pipeline.severity import (
    FULL_TEXT_DOMAIN,
    NUMBER_TO_TEXT,
    map_severity,
    severity_number_to_text,
)

# grammar-safe alphabets (documented constraints in markers.py)
_name_alphabet = string.ascii_letters + string.digits + "._- "
_names = st.text(_name_alphabet, min_size=1, max_size=40).filter(
    lambda s: " attrs=" not in s and not s.startswith(" ") and not s.endswith(" ")
)
_span_names = st.text(string.ascii_letters + string.digits + "._-", min_size=1, max_size=20)
_attr_keys = st.text(string.ascii_letters + ".", min_size=1, max_size=15)
_attr_vals = st.one_of(
    st.integers(min_value=-(2**31), max_value=2**31),
    st.text(string.ascii_letters + string.digits + " .,:;()/", max_size=40).filter(
        lambda s: "}" not in s
    ),
)
_attrs = st.dictionaries(_attr_keys, _attr_vals, max_size=5)


@st.composite
def span_events(draw):
    return SpanEvent(
        trace_id="0123456789abcdef0123456789abcdef",
        span_id="0123456789abcdef",
        span_name=draw(_span_names),
        span_kind=draw(st.sampled_from(["Server", "Client", "Internal"])),
        trace_state="",
        ts_ns=draw(st.integers(min_value=0, max_value=2**62)),
        name=draw(_names),
        attrs=draw(_attrs),
        span_attrs=draw(_attrs),
        res_attrs=draw(_attrs),
    )


@settings(max_examples=300)
@given(st.lists(span_events(), max_size=5), st.text(string.ascii_letters + " \n", max_size=100))
def test_marker_roundtrip_property(events, text):
    paragraphs = [p for p in text.split("\n")]
    html = (
        "<header>x</header>"
        + "".join(render_marker(e) for e in events)
        + "".join(f"<p>{p}</p>" for p in paragraphs)
    ).encode("utf-8")
    parsed = parse_markers(html)
    assert len(parsed) == len(events)
    for got, want in zip(parsed, events):
        assert got.name == want.name
        assert got.ts_ns == want.ts_ns
        assert got.attrs == want.attrs
        assert got.span_attrs == want.span_attrs
        assert got.res_attrs == want.res_attrs
        assert got.span_name == want.span_name
    assert extract_text(html) == "\n".join(paragraphs)


# the parse UDF's page-text kernel against the oracle's regex: pages
# built from the delimiters, their near misses, and bytes a strict UTF-8
# decode accepts and rejects
_text_tokens = st.sampled_from(
    [b"<p>", b"</p>", b"<p", b"</p", b"p>", b"<P>", b"<p/>", b"\n", b"\xff",
     b"\xc3\xa9", b"a", b" ", b"<", b"/", b">", b"p"]
)


@settings(max_examples=1000)
@given(st.lists(_text_tokens, max_size=40).map(b"".join))
@example(b"a<p>unclosed")
@example(b"</p>stray<p>b</p>")
@example(b"<p><p>a</p></p>")
@example(b"<p></p>")
@example(b"text<p>")
def test_page_text_kernel_matches_regex(html):
    assert _page_text(html) == b"\n".join(_TEXT_RE.findall(html))


@settings(max_examples=500)
@given(st.text(max_size=30))
def test_map_severity_total_and_consistent(s):
    num, text = map_severity(s)
    if num == 0:
        assert text == ""
        assert s.lower() not in FULL_TEXT_DOMAIN
    else:
        assert 1 <= num <= 24
        assert text == NUMBER_TO_TEXT[num]
        # canonical texts are fixed points
        assert map_severity(text) == (num, text)


@settings(max_examples=500)
@given(st.integers(min_value=-(2**31), max_value=2**31))
def test_severity_number_to_text_total(n):
    t = severity_number_to_text(n)
    if 1 <= n <= 24:
        assert t == NUMBER_TO_TEXT[n]
    else:
        assert t == "info"


@settings(max_examples=300)
@given(_names)
def test_router_total(name):
    sink = route_event(name, DEFAULT_ROUTES)
    assert sink in {"sink_errors", "sink_db", "sink_retries", "sink_default"}

# ---- media codec round-trips (pure Python, no Spark) ---------------------

from weblog_pipeline.ops import multimodal as _mm

_dims = st.integers(min_value=1, max_value=40)
_seeds = st.integers(min_value=0, max_value=255)


@settings(max_examples=80, deadline=None)
@given(_dims, _dims, _seeds)
def test_png_roundtrip_property(w, h, seed):
    meta = _mm.decode_png(_mm.encode_png(w, h, seed))
    assert (meta["width"], meta["height"], meta["n_frames"]) == (w, h, 1)
    exp = [
        (seed + (j // 3) % w + (j // 3) // w) % 256 if j < 3 * w * h else 0
        for j in range(_mm.FEATURE_DIM)
    ]
    assert [round(f * 255) for f in meta["feature"]] == exp


@settings(max_examples=80, deadline=None)
@given(_dims, _dims, _seeds)
def test_gif_roundtrip_property(w, h, seed):
    meta = _mm.decode_gif(_mm.encode_gif(w, h, seed))
    assert (meta["width"], meta["height"], meta["n_frames"]) == (w, h, 1)
    exp = [
        (seed + (j // 3) % w + (j // 3) // w) % 256 if j < 3 * w * h else 0
        for j in range(_mm.FEATURE_DIM)
    ]
    assert [round(f * 255) for f in meta["feature"]] == exp


@settings(max_examples=80, deadline=None)
@given(
    st.integers(min_value=1, max_value=500),
    _seeds,
    st.sampled_from([8000, 16000, 44100]),
    st.integers(min_value=1, max_value=2),
)
def test_wav_roundtrip_property(n, seed, rate, ch):
    meta = _mm.decode_wav(_mm.encode_wav(n, seed, rate, ch))
    assert meta["n_frames"] == n
    assert meta["sample_rate"] == rate and meta["n_channels"] == ch


@settings(max_examples=60, deadline=None)
@given(_dims, _dims, _dims, _dims, _seeds)
def test_bmp_resize_dims_property(w, h, tw, th, seed):
    out = _mm.resize_bmp(_mm.encode_bmp(w, h, seed), tw, th)
    meta = _mm.decode_bmp(out)
    assert (meta["width"], meta["height"]) == (tw, th)
    assert len(out) == 54 + _mm.bmp_stride(tw) * th


@settings(max_examples=60, deadline=None)
@given(_dims, _dims, _seeds, st.integers(min_value=1, max_value=60))
def test_png_truncation_always_quarantined(w, h, seed, cut):
    payload = _mm.encode_png(w, h, seed)
    if cut >= len(payload) - 8:
        return
    try:
        _mm.decode_png(payload[:-cut])
    except ValueError:
        return
    raise AssertionError("truncated PNG decoded without error")


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=0, max_value=200),
)
def test_avi_roundtrip_property(w, h, nf, seed):
    meta = _mm.decode_avi(_mm.encode_avi(w, h, nf, seed))
    assert (meta["width"], meta["height"], meta["n_frames"]) == (w, h, nf)
    assert len(meta["frames"]) == nf


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=0, max_value=255),
    st.integers(min_value=1, max_value=40),
)
def test_avi_truncation_always_quarantined(w, nf, seed, cut):
    payload = _mm.encode_avi(w, w, nf, seed % 200)
    if cut >= len(payload) - 12:
        return
    truncated = payload[:-cut]
    try:
        _mm.decode_avi(truncated)
    except ValueError:
        return
    # a cut that only removes trailing movi padding can still decode all
    # declared frames — then every container fact must still be intact
    meta = _mm.decode_avi(truncated)
    assert meta["n_frames"] <= nf and meta["width"] == w


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=255))
def test_mulaw_expand_matches_reference_table(code):
    """mu-law expansion vs the independent audioop-style reference formula:
    symmetric, monotone within a sign, bounded to +-32124."""
    v = _mm.mulaw_expand(code)
    assert -32124 <= v <= 32124
    # complementing the sign bit negates the sample
    assert _mm.mulaw_expand(code ^ 0x80) == -v


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=300),
    st.integers(min_value=0, max_value=255),
    st.integers(min_value=1, max_value=2),
)
def test_mulaw_wav_roundtrip_property(n, seed, ch):
    meta = _mm.decode_wav(_mm.encode_wav(n, seed, n_channels=ch, audio_format=7))
    assert meta["n_frames"] == n and meta["n_channels"] == ch
    exp = [
        (_mm.mulaw_expand((seed + i + c) % 256) + 32768) / 65536.0
        for i in range(n) for c in range(ch)
    ][: _mm.FEATURE_DIM]
    exp += [0.0] * (_mm.FEATURE_DIM - len(exp))
    assert meta["feature"] == exp


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=255))
def test_alaw_expand_matches_spec(code):
    """A-law expansion: bounded to +-32256, never zero (min step 8),
    complementing the sign bit negates, and within a sign the magnitude
    is monotone in the post-XOR code."""
    v = _mm.alaw_expand(code)
    assert 8 <= abs(v) <= 32256
    assert _mm.alaw_expand(code ^ 0x80) == -v


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=300),
    st.integers(min_value=0, max_value=255),
)
def test_ima_adpcm_roundtrip_property(n, seed):
    """decode_wav reproduces ima_adpcm_encode's reconstruction exactly
    for any (n, seed) triangle fixture, at two block sizes."""
    for ba in (5, 12):
        samples = []
        for i in range(n):
            t = (seed + i) % 510
            v = t if t < 255 else 510 - t
            samples.append((v - 128) * 257)
        _, recon = _mm.ima_adpcm_encode(samples, block_align=ba)
        meta = _mm.decode_wav(_mm.encode_wav_adpcm(n, seed, block_align=ba))
        assert meta["n_frames"] == n
        exp = [(r + 32768) / 65536.0 for r in recon[: _mm.FEATURE_DIM]]
        exp += [0.0] * (_mm.FEATURE_DIM - len(exp))
        assert meta["feature"] == exp


# -- WARC container ----------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(string.ascii_letters + ":/._-", min_size=1, max_size=40),
            st.binary(max_size=200),
            st.booleans(),
        ),
        min_size=1,
        max_size=5,
    )
)
def test_warc_walk_roundtrips_any_payload(recs):
    import datetime

    from weblog_pipeline import warc

    ts = datetime.datetime(2025, 7, 4, 1, 2, 3, 456789)
    blob = b"".join(
        warc.build_record(f"https://x/{i}-{u}", ts, payload, compress=c)
        for i, (u, payload, c) in enumerate(recs)
    )
    out = list(warc.walk_records(blob))
    assert len(out) == len(recs)
    for (u, payload, _), (url, got_ts, got) in zip(recs, out):
        assert got == payload  # arbitrary bytes survive, compressed or not
        assert got_ts == ts


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=120), st.integers(min_value=0, max_value=119))
def test_warc_walk_never_hangs_on_garbage(garbage, cut):
    import datetime

    from weblog_pipeline import warc

    ts = datetime.datetime(2025, 7, 4)
    blob = warc.build_record("https://a", ts, b"x")[:cut] + garbage
    try:
        list(warc.walk_records(blob))
    except (ValueError, KeyError, UnicodeDecodeError):
        pass  # malformed framing must raise, not loop or mis-parse


# -- progressive JPEG --------------------------------------------------------

@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=8, max_value=40),
    st.integers(min_value=8, max_value=32),
    st.integers(min_value=0, max_value=255),
    st.integers(min_value=0, max_value=3),
)
def test_progressive_jpeg_always_matches_baseline(w, h, seed, levels):
    import numpy as np

    from weblog_pipeline.ops import multimodal as mm

    base = mm.decode_jpeg(mm.encode_jpeg(w, h, seed))
    prog = mm.decode_jpeg(
        mm.encode_jpeg_progressive(w, h, seed, levels=levels)
    )
    assert np.array_equal(base["pixels"], prog["pixels"])


@settings(max_examples=150, deadline=None)
@given(st.data())
def test_progressive_jpeg_truncation_never_crashes_oddly(data):
    from weblog_pipeline.ops import multimodal as mm

    levels = data.draw(st.integers(min_value=0, max_value=2))
    payload = mm.encode_jpeg_progressive(16, 16, 99, levels=levels)
    cut = data.draw(st.integers(min_value=2, max_value=len(payload) - 1))
    try:
        mm.decode_jpeg(payload[:cut])
    except (ValueError, NotImplementedError):
        pass  # quarantine classes only — no IndexError/struct.error leaks


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=8, max_value=40),
    st.integers(min_value=8, max_value=32),
    st.integers(min_value=0, max_value=255),
    st.booleans(),
)
def test_partial_interleave_jpeg_always_matches_baseline(w, h, seed, sub):
    """A partially-interleaved sequential file (scan 1 = Y+Cb in MCU
    order, scan 2 = Cr raster) must reconstruct bit-identically to the
    fully-interleaved baseline encoding of the same pixels — T.81 makes
    scan organization a pure container choice."""
    import numpy as np

    from weblog_pipeline.ops import multimodal as mm

    base = mm.decode_jpeg(mm.encode_jpeg_color(w, h, seed, subsample=sub))
    part = mm.decode_jpeg(
        mm.encode_jpeg_color_partial(w, h, seed, subsample=sub)
    )
    assert np.array_equal(base["pixels"], part["pixels"])


@settings(max_examples=80, deadline=None)
@given(st.data())
def test_partial_interleave_jpeg_truncation_never_crashes_oddly(data):
    from weblog_pipeline.ops import multimodal as mm

    sub = data.draw(st.booleans())
    payload = mm.encode_jpeg_color_partial(16, 16, 99, subsample=sub)
    cut = data.draw(st.integers(min_value=2, max_value=len(payload) - 1))
    try:
        mm.decode_jpeg(payload[:cut])
    except (ValueError, NotImplementedError):
        pass  # quarantine classes only — no IndexError/struct.error leaks


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=300), st.text(max_size=40))
def test_parse_robots_total_on_garbage(txt, path):
    from weblog_pipeline import robots

    groups = robots.parse_robots(txt)  # must never raise
    assert robots.is_allowed(groups, "crawler", path) in (True, False)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=8, max_value=32),
    st.integers(min_value=8, max_value=24),
    st.integers(min_value=0, max_value=255),
    st.booleans(),
    st.integers(min_value=1, max_value=9),
)
def test_subset_scan_jpeg_with_restarts_matches_baseline(w, h, seed, sub, ri):
    """Restart markers in non-interleaved and partially-interleaved
    sequential scans are pure framing (byte-align + predictor reset) —
    any restart interval must reconstruct bit-identically to the
    restart-free fully-interleaved baseline."""
    import numpy as np

    from weblog_pipeline.ops import multimodal as mm

    base = mm.decode_jpeg(mm.encode_jpeg_color(w, h, seed, subsample=sub))
    noni = mm.decode_jpeg(
        mm.encode_jpeg_color_noninterleaved(
            w, h, seed, subsample=sub, restart_interval=ri
        )
    )
    part = mm.decode_jpeg(
        mm.encode_jpeg_color_partial(
            w, h, seed, subsample=sub, restart_interval=ri
        )
    )
    assert np.array_equal(base["pixels"], noni["pixels"])
    assert np.array_equal(base["pixels"], part["pixels"])


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=9, max_value=40),
    st.integers(min_value=9, max_value=32),
    st.integers(min_value=0, max_value=120),
    st.sampled_from([(2, 1), (1, 2), (4, 1), (1, 4), (4, 2), (2, 4), (4, 4)]),
)
def test_generalized_sampling_jpeg_fidelity(w, h, seed, samp):
    """4:2:2 / 4:4:0 / 4:1:1 / 4x4 luma sampling layouts must decode
    within a tight fidelity bound of the source gradient (seed bounded so
    the gradient never wraps mod 256 inside the image — a wrap would make
    the chroma box-average legitimately diverge)."""
    import numpy as np

    from weblog_pipeline.ops import multimodal as mm

    if seed + w + h >= 250:
        return
    hs, vs = samp
    meta = mm.decode_jpeg(mm.encode_jpeg_color_sampled(w, h, seed, hs, vs))
    assert (meta["width"], meta["height"]) == (w, h)
    x = np.arange(w)[None, :]
    y = np.arange(h)[:, None]
    src = np.stack(
        [
            (seed + x) % 256 + 0 * y,
            (seed + y) % 256 + 0 * x,
            (seed + x + y) % 256 + 0.0 * x,
        ],
        axis=-1,
    )
    assert np.max(np.abs(meta["pixels"].astype(float) - src)) <= 14


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=9, max_value=40),
    st.integers(min_value=9, max_value=32),
    st.integers(min_value=0, max_value=120),
    st.sampled_from(
        [(4, 1, 3, 1), (1, 4, 1, 3), (3, 2, 2, 1), (4, 4, 3, 3), (3, 3, 2, 2)]
    ),
)
def test_fractional_sampling_jpeg_fidelity(w, h, seed, layout):
    """FRACTIONAL chroma ratios (chroma factor not dividing luma's, e.g.
    4:3) must decode within a fidelity bound of the source gradient —
    the T.81-legal class that used to raise NotImplementedError. The
    bound is looser than the integer-ratio test's: nearest-neighbor
    chroma at a 4:3 grid offsets samples by up to 1.33 px."""
    import numpy as np

    from weblog_pipeline.ops import multimodal as mm

    if seed + w + h >= 250:
        return
    hs, vs, ch, cv = layout
    meta = mm.decode_jpeg(
        mm.encode_jpeg_color_sampled(w, h, seed, hs, vs, ch, cv)
    )
    assert (meta["width"], meta["height"]) == (w, h)
    x = np.arange(w)[None, :]
    y = np.arange(h)[:, None]
    src = np.stack(
        [
            (seed + x) % 256 + 0 * y,
            (seed + y) % 256 + 0 * x,
            (seed + x + y) % 256 + 0.0 * x,
        ],
        axis=-1,
    )
    assert np.max(np.abs(meta["pixels"].astype(float) - src)) <= 20


def test_jpeg_restart_out_of_sequence_quarantines():
    """A baseline stream whose RSTn sequence number is wrong (dropped /
    duplicated restart interval) must raise ValueError (T.81 E.1.2
    resync), not decode with silently misplaced blocks."""
    import pytest

    from weblog_pipeline.ops import multimodal as mm

    payload = mm.encode_jpeg_color_noninterleaved(
        24, 24, 7, subsample=False, restart_interval=2
    )
    # find the first RST0 marker (FF D0) in the entropy stream and bump
    # its sequence number to RST1 — now out of order
    idx = payload.find(b"\xff\xd0")
    assert idx > 0, "fixture must contain a restart marker"
    corrupted = payload[:idx + 1] + b"\xd1" + payload[idx + 2:]
    with pytest.raises(ValueError, match="restart marker out of sequence"):
        mm.decode_jpeg(corrupted)
    # the pristine stream still decodes
    assert mm.decode_jpeg(payload)["width"] == 24


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=8, max_value=32),
    st.integers(min_value=8, max_value=24),
    st.integers(min_value=0, max_value=255),
    st.integers(min_value=0, max_value=2),
    st.integers(min_value=1, max_value=9),
)
def test_progressive_jpeg_with_restarts_matches_baseline(w, h, seed, lv, ri):
    """Restart markers in progressive scans (interleaved DC, DC
    refinement, AC band, AC refinement) are pure framing — any interval
    must reconstruct bit-identically to the restart-free baseline."""
    import numpy as np

    from weblog_pipeline.ops import multimodal as mm

    base_g = mm.decode_jpeg(mm.encode_jpeg(w, h, seed))
    prog_g = mm.decode_jpeg(
        mm.encode_jpeg_progressive(w, h, seed, levels=lv, restart_interval=ri)
    )
    assert np.array_equal(base_g["pixels"], prog_g["pixels"])
    base_c = mm.decode_jpeg(mm.encode_jpeg_color(w, h, seed, subsample=True))
    prog_c = mm.decode_jpeg(
        mm.encode_jpeg_progressive_color(
            w, h, seed, subsample=True, restart_interval=ri
        )
    )
    assert np.array_equal(base_c["pixels"], prog_c["pixels"])
