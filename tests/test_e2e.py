"""End-to-end extraction tests — ported from html_test.go public-API cases:
titles, article selection, media/link structs, inline formats, word count,
limits/errors, blank handling, determinism."""

import importlib.util
import os

import pytest

from htmlx.core.extract import Config, Extractor, extract, markdown_config, text_only_config


def test_readme_example():
    # README.md:63-80
    html = b"""
    <html><head><title>Hello World</title></head><body>
    <nav>Navigation menu</nav>
    <article><h1>Hello World</h1><p>Content here...</p></article>
    <footer>Footer content</footer>
    </body></html>"""
    r = extract(html)
    assert r.title == "Hello World"
    assert r.text == "Hello World\n\nContent here..."
    assert r.word_count == 4
    assert r.error == ""


def test_title_priority():
    # extract.go:802-840: title -> h1 -> h2, preferring non-empty
    assert extract(b"<title>T</title><h1>H1</h1>").title == "T"
    assert extract(b"<title></title><h1>H1</h1>").title == "H1"
    assert extract(b"<h2>H2</h2>").title == "H2"
    assert extract(b"<p>no title</p>").title == ""


def test_images_struct():
    html = b'<article><p>Long enough content for scoring purposes here.</p>' \
           b'<img src="a.jpg" alt="A" title="TA" width="10" height="20">' \
           b'<img src="b.jpg" alt=""><img src="javascript:x" alt="bad"></article>'
    r = extract(html)
    assert len(r.images) == 2
    a, b = r.images
    assert a == {"url": "a.jpg", "alt": "A", "title": "TA", "width": "10", "height": "20",
                 "is_decorative": False, "position": 1}
    assert b["is_decorative"] is True and b["position"] == 2
    # invalid src: 'javascript:x' IS a valid URL shape per IsValidURL -> kept?
    # javascript: starts with alnum 'j' -> accepted by IsValidURL; sanitizer
    # strips it from the DOM first, so it never reaches image extraction.


def test_invalid_image_consumes_position():
    html = b'<article><p>Long enough content for scoring purposes here.</p>' \
           b'<img src="<bad>"><img src="ok.jpg"></article>'
    r = extract(html)
    # parser keeps src "<bad>" as attr? "<" in attr value is allowed by
    # html.parser; IsValidURL rejects it -> dropped but consumes position 1
    assert len(r.images) == 1
    assert r.images[0]["url"] == "ok.jpg"
    assert r.images[0]["position"] == 2


def test_links_struct():
    html = (
        b"<article><p>Some sufficiently long paragraph of content here, truly.</p>"
        b'<a href="https://other.com/x" title="t" rel="NoFollow">Ext</a>'
        b'<a href="/local">Local</a></article>'
    )
    r = extract(html)
    assert len(r.links) == 2
    e, l = r.links
    assert e["is_external"] is True and e["is_nofollow"] is True and e["position"] == 1
    assert e["text"] == "Ext"
    assert l["is_external"] is False and l["is_nofollow"] is False and l["position"] == 2


def test_videos_and_audios():
    html = (
        b"<article><p>Some sufficiently long paragraph of content goes here.</p>"
        b'<video src="movie.mp4" poster="p.jpg" width="640"></video>'
        b'<audio src="sound.mp3"></audio>'
        b'<iframe src="https://www.youtube.com/embed/abc123"></iframe>'
        b"<p>Bare link https://cdn.example.com/clip.webm in text</p></article>"
    )
    r = extract(html)
    vurls = {v["url"]: v for v in r.videos}
    assert "movie.mp4" in vurls and vurls["movie.mp4"]["type"] == ""  # src video: type only from <source>
    assert vurls["movie.mp4"]["poster"] == "p.jpg"
    assert "https://www.youtube.com/embed/abc123" in vurls
    assert vurls["https://www.youtube.com/embed/abc123"]["type"] == "embed"
    assert "https://cdn.example.com/clip.webm" in vurls
    aurls = {a["url"]: a for a in r.audios}
    assert "sound.mp3" in aurls


def test_video_source_child():
    html = b'<article><p>Long paragraph of sufficient content length here.</p>' \
           b'<video><source src="v.webm" type="video/webm"></video></article>'
    r = extract(html)
    v = {x["url"]: x for x in r.videos}
    assert v["v.webm"]["type"] == "video/webm"


def test_text_only_config():
    html = b'<article><p>Content text.</p><img src="a.jpg"><a href="/x">L</a></article>'
    r = Extractor(text_only_config()).extract(html)
    assert r.images == [] and r.links == [] and r.videos == [] and r.audios == []
    assert "Content text." in r.text


def test_markdown_inline_formats():
    html = (
        b"<article><p>Intro paragraph with plenty of words to score well.</p>"
        b'<img src="pic.jpg" alt="Pic"><p>See <a href="/doc">the doc</a> now.</p></article>'
    )
    r = Extractor(markdown_config()).extract(html)
    assert "![Pic](pic.jpg)" in r.text
    assert "[the doc](/doc)" in r.text


def test_placeholder_format():
    cfg = Config(inline_image_format="placeholder", inline_link_format="none")
    html = b'<article><p>Intro paragraph with plenty of words to go around.</p><img src="p.jpg"></article>'
    r = Extractor(cfg).extract(html)
    assert "[IMAGE:1]" in r.text


def test_html_inline_formats():
    cfg = Config(inline_image_format="html", inline_link_format="html")
    html = (
        b"<article><p>Intro paragraph with plenty of words to go around.</p>"
        b'<img src="p.jpg" alt="A&B" width="5">'
        b'<p>Go <a href="/d" title="T">here</a></p></article>'
    )
    r = Extractor(cfg).extract(html)
    assert '<img src="p.jpg" alt="A&amp;B" width="5">' in r.text
    assert '<a href="/d" title="T">here</a>' in r.text


def test_empty_and_blank():
    assert extract(b"").text == ""
    assert extract(b"   \n\t  ").text == ""
    assert extract(b"").error == ""


def test_input_too_large():
    cfg = Config(max_input_size=10)
    r = Extractor(cfg).extract(b"x" * 11)
    assert r.error == "input_too_large"


def test_max_depth_exceeded():
    deep = b"<div>" * 501 + b"x" + b"</div>" * 501
    r = extract(deep)
    assert r.error == "max_depth_exceeded"


def test_depth_at_limit_ok():
    deep = b"<div>" * 300 + b"x" + b"</div>" * 300
    r = extract(deep)
    assert r.error == ""


def test_reading_time():
    html = ("<article><p>" + "word " * 400 + "</p></article>").encode()
    r = extract(html)
    assert r.word_count == 400
    assert r.reading_time_ms == 120000  # 400/200 = 2 min


def test_determinism():
    html = (
        b"<html><body><div class='content'><p>Alpha beta gamma delta.</p>"
        b"<p>Epsilon zeta eta theta.</p></div><div class='sidebar'><p>Noise</p></div></body></html>"
    )
    results = {Extractor().extract(html).text for _ in range(5)}
    assert len(results) == 1


def test_gbk_e2e():
    text = "这是一个测试页面，包含足够长的中文内容用于评分。"
    html = ('<html><head><meta charset="gbk"><title>标题</title></head><body><article><p>'
            + text + "</p></article></body></html>").encode("gbk")
    r = extract(html)
    assert r.title == "标题"
    assert text in r.text


# One page that feeds every output: <img>, <a>, <video>, a video <iframe>,
# <audio>, and bare media URLs that only the raw-HTML regex scan finds.
_MEDIA_PAGE = (
    b"<html><head><title>Media</title></head><body><nav>Menu</nav><article>"
    b"<p>Intro paragraph with plenty of words, so the article scores well.</p>"
    b'<img src="pic.jpg" alt="Pic" width="4"><img src="deco.png">'
    b'<p>See <a href="/doc" title="T">the doc</a> and '
    b'<a href="https://other.com/x" rel="nofollow">elsewhere</a>.</p>'
    b'<video src="movie.mp4" poster="p.jpg"></video>'
    b'<iframe src="https://www.youtube.com/embed/abc123" width="560"></iframe>'
    b'<audio><source src="song.ogg" type="audio/ogg"></audio>'
    b"<p>Bare https://cdn.example.com/clip.webm and https://cdn.example.com/talk.mp3 here.</p>"
    b"</article></body></html>"
)
_INLINE_FORMATS = {  # name -> (inline_image_format, inline_link_format)
    "none": ("none", "none"),
    "markdown": ("markdown", "markdown"),
    "placeholder": ("placeholder", "none"),
    "html": ("html", "html"),
}
_MEDIA_KINDS = ("images", "links", "videos", "audios")


@pytest.mark.parametrize("inline", sorted(_INLINE_FORMATS))
@pytest.mark.parametrize("flags", range(16))
def test_preserve_flag_matrix(inline, flags):
    image_fmt, link_fmt = _INLINE_FORMATS[inline]
    fmt = {"inline_image_format": image_fmt, "inline_link_format": link_fmt}
    want = extract(_MEDIA_PAGE, Config(**fmt))
    assert all(getattr(want, kind) for kind in _MEDIA_KINDS)
    keep = {kind: bool(flags >> i & 1) for i, kind in enumerate(_MEDIA_KINDS)}
    got = extract(_MEDIA_PAGE, Config(**fmt, **{f"preserve_{k}": v for k, v in keep.items()}))
    assert got.error == ""
    assert got.text == want.text
    for kind, kept in keep.items():
        assert getattr(got, kind) == (getattr(want, kind) if kept else [])


def test_ledger_wrapped_names_resolve():
    # the traced benchmark run wraps these names by getattr; a rename here
    # would break its per-layer timing
    import htmlx.core.extract as mod

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "perfbench", "ledger.py")
    spec = importlib.util.spec_from_file_location("perfbench_ledger", path)
    ledger = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ledger)
    assert ledger.CORE_FUNCTIONS and ledger.CORE_METHODS
    for name in ledger.CORE_FUNCTIONS:
        assert callable(getattr(mod, name, None)), name
    for name in ledger.CORE_METHODS:
        assert callable(getattr(mod.Extractor, name, None)), name
