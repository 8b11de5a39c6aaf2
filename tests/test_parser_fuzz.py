"""Property fuzzing for the hand-rolled binary parsers (VERDICT r04 #6) and
the HTML stripper, which also parses untrusted input.

Contracts per parser, each checked two ways:

1. round trip — ``parse(build(x)) == x`` for arbitrary well-formed inputs
   (the writer twin is the generator, so the property covers every header
   variant the writer can emit);
2. mutation — ``parse(mutate(build(x)))`` for random byte flips, truncations,
   and injections must either raise the module's (ValueError-family) error
   or return a result that satisfies the parser's own shape invariants.
   Never hang, never crash with a non-ValueError, never desync into
   returning geometry-inconsistent planes/tensors.

Pure-Python/NumPy — no Spark session, so the whole file runs in seconds.
"""

import numpy as np
import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st  # noqa: E402

from conftest import REPO  # noqa: F401


def _mutate(blob: bytes, seed: int) -> bytes:
    """Deterministic structural mutation: byte flips, truncation, junk
    injection, or a splice of the blob with itself."""
    rng = np.random.default_rng(seed)
    b = bytearray(blob)
    op = rng.integers(0, 5)
    if op == 0 and b:  # flip 1-8 bytes
        for _ in range(int(rng.integers(1, 9))):
            b[int(rng.integers(0, len(b)))] = int(rng.integers(0, 256))
    elif op == 1 and b:  # truncate
        del b[int(rng.integers(0, len(b))):]
    elif op == 2:  # inject junk at a random offset
        at = int(rng.integers(0, len(b) + 1))
        junk = bytes(rng.integers(0, 256, size=int(rng.integers(1, 32)), dtype=np.uint8))
        b[at:at] = junk
    elif op == 3 and b:  # duplicate a slice (desync bait)
        i = int(rng.integers(0, len(b)))
        j = int(rng.integers(i, min(len(b), i + 64)))
        b[j:j] = b[i:j]
    else:  # pure random bytes
        b = bytearray(rng.integers(0, 256, size=int(rng.integers(0, 128)), dtype=np.uint8))
    return bytes(b)


# --------------------------------------------------------------------------
# idx (MNIST tensor files)
# --------------------------------------------------------------------------

@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=5), min_size=0, max_size=3),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_idx_round_trip(shape, seed):
    from ocr_spark.idx import build_idx, parse_idx

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=tuple(shape), dtype=np.uint8)
    out = parse_idx(build_idx(arr))
    assert out.shape == arr.shape
    assert np.array_equal(out, arr)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=4), min_size=0, max_size=3),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_idx_mutation_never_desyncs(shape, seed):
    from ocr_spark.idx import build_idx, parse_idx

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=tuple(shape), dtype=np.uint8)
    blob = _mutate(build_idx(arr), seed)
    try:
        out = parse_idx(blob)
    except ValueError:
        return
    # accepted parse must satisfy the format's own invariants
    assert out.dtype == np.uint8
    assert out.size <= max(0, len(blob) - 4)


# --------------------------------------------------------------------------
# y4m (YUV4MPEG2 video)
# --------------------------------------------------------------------------

_CS = ["420jpeg", "420", "420mpeg2", "420paldv", "422", "444", "mono"]


@settings(max_examples=150, deadline=None)
@given(
    st.integers(min_value=0, max_value=3),        # frames
    st.sampled_from([2, 4, 6]),                   # h
    st.sampled_from([2, 4, 8]),                   # w
    st.sampled_from(_CS),
    st.tuples(st.integers(1, 60), st.integers(1, 2)),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_y4m_round_trip(n, h, w, cs, fps, seed):
    from ocr_spark.y4m import build_y4m, parse_y4m

    rng = np.random.default_rng(seed)
    y = rng.integers(0, 256, size=(n, h, w), dtype=np.uint8)
    chroma = None
    if cs != "mono":
        hd, wd = (2, 2) if cs.startswith("420") else (1, 2) if cs == "422" else (1, 1)
        chroma = rng.integers(0, 256, size=(n, 2, h // hd, w // wd), dtype=np.uint8)
    info, frames = parse_y4m(build_y4m(y, colorspace=cs, fps=fps, chroma=chroma))
    assert (info["width"], info["height"]) == (w, h)
    assert (info["fps_num"], info["fps_den"]) == fps
    assert info["colorspace"] == cs and info["n_frames"] == n
    assert len(frames) == n
    for i, (fy, fu, fv) in enumerate(frames):
        assert np.array_equal(fy, y[i])
        if cs == "mono":
            assert fu is None and fv is None
        else:
            assert np.array_equal(fu, chroma[i, 0])
            assert np.array_equal(fv, chroma[i, 1])


@settings(max_examples=300, deadline=None)
@given(
    st.integers(min_value=0, max_value=3),
    st.sampled_from(_CS),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_y4m_mutation_never_desyncs(n, cs, seed):
    from ocr_spark.y4m import build_y4m, parse_y4m

    rng = np.random.default_rng(seed)
    y = rng.integers(0, 256, size=(n, 4, 4), dtype=np.uint8)
    blob = _mutate(build_y4m(y, colorspace=cs), seed)
    try:
        info, frames = parse_y4m(blob)
    except ValueError:  # Y4MError and header int()/decode failures
        return
    # accepted parse must be geometry-consistent with its own header
    assert info["n_frames"] == len(frames)
    for fy, fu, fv in frames:
        assert fy.shape == (info["height"], info["width"])
        if info["colorspace"] == "mono":
            assert fu is None and fv is None
        else:
            assert fu is not None and fv is not None and fu.shape == fv.shape


# --------------------------------------------------------------------------
# pdf (text extraction)
# --------------------------------------------------------------------------

_LINE = st.text(
    alphabet="abc XY()\\%03", min_size=0, max_size=12
)  # parens/backslash/percent stress the string-escape and comment paths


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.lists(_LINE, min_size=0, max_size=3), min_size=0, max_size=3),
    st.booleans(),
)
def test_pdf_round_trip(pages, compress):
    from ocr_spark.pdf import build_pdf, extract_text

    got = extract_text(build_pdf(pages, compress=compress))
    expected = []
    for lines in pages:
        runs = [ln for ln in lines if ln]
        if runs:
            expected.append(" ".join(runs))
    assert got == expected


# --------------------------------------------------------------------------
# stateful sessionizer fold (not a parser, but the same exactness-under-
# adversarial-chunking contract: any chunking + any disorder == one sorted
# pass; complements the fixed-seed test in test_streaming.py)
# --------------------------------------------------------------------------

@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=5_000), min_size=0, max_size=200),
    st.integers(min_value=1, max_value=500),   # gap
    st.integers(min_value=1, max_value=9),     # chunk count
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_merge_session_intervals_exact_under_any_chunking(ts, gap, n_chunks, seed):
    from ocr_spark.streaming.job import _merge_session_intervals

    arr = np.asarray(ts, dtype=np.int64)
    ref = _merge_session_intervals([], np.sort(arr), gap)
    rng = np.random.default_rng(seed)
    shuffled = arr[rng.permutation(len(arr))]
    acc = []
    for chunk in np.array_split(shuffled, n_chunks):
        acc = _merge_session_intervals(acc, chunk, gap)
    assert acc == ref
    assert sum(c for _, _, c in ref) == len(arr)          # no event lost
    for a, b in zip(ref, ref[1:]):
        assert b[0] - a[1] > gap                          # truly gap-separated
    for s, e, c in ref:
        assert s <= e and c >= 1


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.lists(_LINE, min_size=0, max_size=2), min_size=0, max_size=2),
    st.booleans(),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_pdf_mutation_never_crashes(pages, compress, seed):
    """extract_text on arbitrarily corrupted bytes must return a list of str
    without raising — the batch decode path feeds it untrusted blobs and a
    single bad document must not kill an executor task."""
    from ocr_spark.pdf import build_pdf, extract_text

    blob = _mutate(build_pdf(pages, compress=compress), seed)
    out = extract_text(blob)
    assert isinstance(out, list)
    assert all(isinstance(t, str) for t in out)


# --------------------------------------------------------------------------
# png (page rasters / F8 debug renders)
# --------------------------------------------------------------------------

@settings(max_examples=150, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.booleans(),
)
def test_png_round_trip(h, w, seed, rgb):
    from ocr_spark.png import decode_gray, decode_rgb, encode_gray, encode_rgb

    rng = np.random.default_rng(seed)
    if rgb:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_rgb(encode_rgb(img)), img)
    else:
        img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        assert np.array_equal(decode_gray(encode_gray(img)), img)
        # gray blobs decode through the rgb entry point as 3-channel broadcast
        assert np.array_equal(decode_rgb(encode_gray(img)), np.repeat(img[:, :, None], 3, 2))


@settings(max_examples=300, deadline=None)
@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.booleans(),
)
def test_png_mutation_never_crashes(h, w, seed, rgb):
    """Mutated blobs must raise ValueError (the codec's single error family —
    truncation, bad IDAT, implausible dims are all normalized to it) or
    decode to an array of the header-declared shape. Never hang, never OOM
    on hostile dimensions, never leak Index/struct/zlib errors into the UDF.
    """
    from ocr_spark.png import decode_gray, decode_rgb, encode_gray, encode_rgb

    rng = np.random.default_rng(seed)
    if rgb:
        blob = encode_rgb(rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8))
    else:
        blob = encode_gray(rng.integers(0, 256, size=(h, w), dtype=np.uint8))
    mutated = _mutate(blob, seed)
    for decoder, ndim in ((decode_gray, 2), (decode_rgb, 3)):
        try:
            out = decoder(mutated)
        except ValueError:
            continue
        assert out.dtype == np.uint8 and out.ndim == ndim
        assert out.shape[0] >= 1 and out.shape[1] >= 1
        if ndim == 3:
            assert out.shape[2] == 3


def test_png_hostile_dimensions_rejected_fast():
    """A tiny blob declaring huge dimensions must raise ValueError without
    allocating or defiltering (the bpp-aware _MAX_SAMPLES cap): 16384x16384
    gray and 8192x8192 rgb both exceed 2**26 samples."""
    import struct as _struct
    import time
    import zlib as _zlib

    from ocr_spark.png import _SIG, decode_gray, decode_rgb

    def blob(w, h, ct):
        def chunk(ctype, payload):
            return (_struct.pack(">I", len(payload)) + ctype + payload
                    + _struct.pack(">I", _zlib.crc32(ctype + payload) & 0xFFFFFFFF))
        ihdr = _struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
        return _SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", _zlib.compress(b"\x00" * 64)) + chunk(b"IEND", b"")

    t0 = time.time()
    with pytest.raises(ValueError):
        decode_gray(blob(16384, 16384, 0))
    with pytest.raises(ValueError):
        decode_rgb(blob(8192, 8192, 2))
    assert time.time() - t0 < 1.0


# --------------------------------------------------------------------------
# html stripper (boilerplate removal over untrusted web markup)
# --------------------------------------------------------------------------

_WORDS = "alpha beta gamma delta omega kappa sigma lambda".split()
_CONTAINERS = ("nav", "footer", "header", "aside", "form", "NAV", "Aside")
_BLOCKS = ("p", "div", "li", "td", "h2", "section", "blockquote", "P", "DIV")
_SOUP = (
    "<nav>", "</nav>", "<footer>", "</footer>", "<aside class=x>", "</aside>",
    "<form>", "<header>", "<p>", "</p>", "<div>", "<br/>", "<td>", "<li>",
    '<a href="/x">', "</a>", "<b>", "</b>", "<script>", "</script>",
    "<!--", "-->", "<style>", "<", ">", "&amp;", "&lt;", "&nbsp;", "&",
    " ", "\n", "alpha", "beta gamma", "é",
)


def _tag_soup(seed: int) -> str:
    """Random tag soup, then a structural mutation of its UTF-8 bytes."""
    rng = np.random.default_rng(seed)
    soup = "".join(rng.choice(_SOUP, size=int(rng.integers(0, 120))))
    return _mutate(soup.encode(), seed).decode("utf-8", errors="replace")


def _page(rnd, depth: int = 0) -> tuple[str, list[str]]:
    """(html, kept blocks) of a well-formed page: content blocks of 3+ words
    with at most half of them linked are kept; chrome inside (nested)
    containers, link-only blocks, short blocks, scripts and comments are
    dropped."""
    html, kept = [], []
    for _ in range(rnd.randint(0, 8)):
        c = rnd.random()
        words = rnd.choices(_WORDS, k=rnd.randint(3, 12))
        if c < 0.25 and depth < 3:
            inner, _ = _page(rnd, depth + 1)
            tag = rnd.choice(_CONTAINERS)
            html.append(f'<{tag} id="c">{inner}{" ".join(words)}</{tag}>')
        elif c < 0.4:
            html.append('<div class="rel">' + " ".join(f'<a href="/{w}">{w}</a>' for w in words) + "</div>")
        elif c < 0.5:
            html.append(f"<p>{' '.join(words[:2])}</p>")
        elif c < 0.6:
            html.append(f"<script>var s = '<p>{' '.join(words)}</p>';</script><!-- {words[0]} -->")
        else:
            linked = set(rnd.sample(range(len(words)), len(words) // 2))
            marked = [f'<a href="#">{w}</a>' if i in linked else f"<b>{w}</b>" if i % 3 else w
                      for i, w in enumerate(words)]
            tag = rnd.choice(_BLOCKS)
            html.append(f"<{tag} class=\"k\">{' '.join(marked)}</{tag}>")
            kept.append(" ".join(words))
    return "".join(html), kept


@settings(max_examples=300, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**32 - 1), min_size=1, max_size=8))
def test_strip_html_mutated_tag_soup_never_raises(seeds):
    import pandas as pd

    from ocr_spark.html.strip import strip_html

    docs = [None if s % 7 == 0 else _tag_soup(s) for s in seeds]
    out = strip_html(pd.Series(docs, dtype=object))
    assert list(out.index) == list(range(len(docs)))
    for doc, got in zip(docs, out):
        assert got is None if doc is None else isinstance(got, str)


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_strip_html_well_formed_page_yields_its_content(seed):
    """Truth by construction: exactly the content blocks, in order."""
    import random

    import pandas as pd

    from ocr_spark.html.strip import strip_html

    body, kept = _page(random.Random(seed))
    html = f"<html><head><title>t</title><style>p {{}}</style></head><body>{body}</body></html>"
    assert strip_html(pd.Series([html]))[0] == " ".join(kept)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**32 - 1), min_size=2, max_size=8))
def test_strip_html_row_output_independent_of_batch(seeds):
    import random

    import pandas as pd

    from ocr_spark.html.strip import strip_html

    docs = [_tag_soup(s) if s % 2 else _page(random.Random(s))[0] for s in seeds]
    docs.append("<nav>" * 300 + "menu words here" + "</nav>" * 300 + "<p>deep nest content kept</p>")
    together = strip_html(pd.Series(docs, dtype=object))
    for i, doc in enumerate(docs):
        assert strip_html(pd.Series([doc]))[0] == together[i]


def test_strip_html_unclosed_containers_cost_linear_time():
    """20,000 unclosed <nav> openers, each followed by a menu link: every
    opener drops alone, the menu is one link-only block, the content
    survives, and the scan stays linear (a first-open-to-first-close regex
    retried at every opener is quadratic here)."""
    import time

    import pandas as pd

    from ocr_spark.html.strip import strip_html

    html = "<div>" + '<nav><a href="/m">menu</a> ' * 20_000 + "</div><p>main content words here</p>"
    t0 = time.perf_counter()
    out = strip_html(pd.Series([html]))[0]
    assert time.perf_counter() - t0 < 2.0
    assert out == "main content words here"
