"""Property tests (hypothesis): no exception on arbitrary bytes, determinism
across runs — the engine analogue of fuzz_test.go:13-138."""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from htmlx.core.extract import Extractor, extract
from htmlx.core.links import extract_all_links

_ex = Extractor()


@settings(max_examples=120, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.binary(max_size=4096))
def test_extract_never_raises(blob):
    r = _ex.extract(blob)
    assert isinstance(r.text, str)
    assert isinstance(r.word_count, int)


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.text(max_size=2048))
def test_extract_text_input_never_raises(s):
    r = _ex.extract(s.encode("utf-8", errors="ignore"))
    assert isinstance(r.text, str)


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.binary(max_size=2048))
def test_all_links_never_raises(blob):
    try:
        links = extract_all_links(blob)
    except ValueError:
        return  # size/depth errors are contract errors, not crashes
    assert all(set(l) == {"url", "title", "type"} for l in links)


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.binary(max_size=2048))
def test_determinism(blob):
    a = _ex.extract(blob)
    b = _ex.extract(blob)
    assert a.text == b.text
    assert a.title == b.title
    assert a.images == b.images
    assert a.links == b.links
    assert a.videos == b.videos


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.sampled_from(
            ["<p>", "</p>", "<div>", "</div>", "<b>", "</b>", "text ", "&amp;", "<br>",
             "<table>", "<tr>", "<td>x</td>", "</tr>", "</table>", "<li>item</li>",
             "<ul>", "</ul>", "&#65;", "<a href='/x'>l</a>", "<img src='i.jpg'>"]
        ),
        max_size=40,
    )
)
def test_tag_soup_roundtrip(parts):
    html = "".join(parts).encode()
    r = _ex.extract(html)
    assert r.error == "" or r.error.startswith("internal_panic") is False


TAG_SOUP = st.lists(
    st.sampled_from(
        ["<p>", "</p>", "<div class='a b'>", "</div>", "text & more ", "&amp;", "&#65;",
         "<br>", "<br/>", "<img src='x.jpg' alt=\"A&B\">", "<a href=/x title=T>", "</a>",
         "<script>var a='</div>';</script>", "<style>p{}</style>", "<!-- comment -->",
         "<!doctype html>", "<?pi?>", "< notatag", "<table><tr><td>c", "</td></tr></table>",
         "<ul><li>i", "</ul>", "&unknown;", "&lt;", "\n  ", "<em>e</em>", "<SPAN ID=Q>",
         "</span>", "<input value=3>", "<sec-doc>", "</sec-doc>",
         "<ix:nonnumeric>7</ix:nonnumeric>", "<title>T</title>", "<td colspan=2>"]
    ),
    max_size=30,
)


def _tree_sig(node):
    from htmlx.core.dom import COMMENT, ELEMENT, TEXT

    parts = []
    stack = [node]
    while stack:
        n = stack.pop()
        if n.type == ELEMENT:
            parts.append(("E", n.data, tuple(sorted(n.attrs))))
        elif n.type == TEXT:
            parts.append(("T", n.data))
        elif n.type == COMMENT:
            parts.append(("C", n.data))
        c = n.last_child
        while c is not None:
            stack.append(c)
            c = c.prev_sibling
    return parts


@settings(max_examples=80, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(TAG_SOUP)
def test_fast_tokenizer_matches_stdlib(parts):
    """The fast tokenizer must build the identical tree to the stdlib-driven
    parser on arbitrary tag soup (differential regression guard)."""
    from htmlx.core.dom import parse, parse_stdlib

    doc = "".join(parts)
    assert _tree_sig(parse(doc)) == _tree_sig(parse_stdlib(doc))


def _best_parse_times(blocks, runs=5):
    """Best-of-`runs` wall time to parse each block of documents back to
    back. The blocks' runs interleave, so a slow host phase hits every
    block alike, and the cyclic GC is off while timing (as in timeit)."""
    import gc
    import time

    from htmlx.core.dom import parse

    best = [float("inf")] * len(blocks)
    gc_was_on = gc.isenabled()
    gc.disable()
    try:
        for _ in range(runs):
            for i, block in enumerate(blocks):
                t0 = time.perf_counter()
                for doc in block:
                    parse(doc)
                best[i] = min(best[i], time.perf_counter() - t0)
    finally:
        if gc_was_on:
            gc.enable()
    return best


@pytest.mark.parametrize("prefix, unit", [("<p>", "< "), ("<table>", "< a")])
def test_parse_linear_in_stray_lt_runs(prefix, unit):
    """Every '<' that starts no markup reaches the tree builder as its own
    text piece; the pieces of one run must coalesce in linear time, on
    the body path and on the table foster-parent path. 4x the input may
    cost at most ~5x the time (best of 5 runs per size). The small input
    is timed as four back-to-back parses so both timed regions last about
    as long and are equally exposed to host preemption."""
    from htmlx.core.dom import ELEMENT, TEXT, parse

    small = prefix + unit * (50_000 // len(unit))
    big = prefix + unit * (200_000 // len(unit))
    t_small4, t_big = _best_parse_times([[small] * 4, [big]])
    assert t_big <= 5 * t_small4 / 4, (prefix, t_small4 / 4, t_big)
    # the run is ONE text node holding the whole run: the only child of
    # the <p>, or foster-parented just before the <table>
    el = parse(big).first_child.last_child.first_child
    run = el.first_child if prefix == "<p>" else el
    tail = None if prefix == "<p>" else el.next_sibling
    assert run.type == TEXT and run.next_sibling is tail
    assert run.data == unit * (200_000 // len(unit))
    if tail is not None:
        assert tail.type == ELEMENT and tail.data == "table"
