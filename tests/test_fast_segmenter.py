"""Scanner fidelity: segment_html's native C scanner must equal its
reference, segment_html_stdlib, on EVERY document it accepts — corpus,
webify pages, adversarial constructs, and hypothesis fuzz. The scanner is
faithful-or-bail; these tests catch the only dangerous failure mode
(mis-handling a construct it claims to handle)."""

from __future__ import annotations

import logging

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_award_extractor_spark.functions import htmltext as h
from ocr_award_extractor_spark.functions.htmltext import (
    extract_page, segment_html, segment_html_stdlib,
)


def _key(segments):
    return [(s.text(), s.link_chars, sum(len(p) for p in s.parts))
            for s in segments]


def _parts(segments):
    return [(s.parts, s.link_chars) for s in segments]


def assert_equal_segmentation(html_str: str) -> None:
    """Two-way equality: segment_html (the native scanner, or the stdlib
    parser on a document it declines) equals segment_html_stdlib."""
    assert _key(segment_html(html_str)) == _key(segment_html_stdlib(html_str)), \
        html_str[:200]


def _page_strings(pages):
    out = []
    for html in pages:
        try:
            out.append(html.decode("utf-8"))
        except UnicodeDecodeError:
            out.append(html.decode("utf-8", errors="replace"))
    return out


def _corpus_bytes():
    from ocr_award_extractor_spark.sources.fixture_gen import generate_rows

    return [r["html"] for r in generate_rows(400, seed=11)]


def _webify_bytes():
    import random

    from ocr_award_extractor_spark.operators.webify import wrap_row

    rng = random.Random(5)
    words = "spark merge 获奖 学生 données größe a&b <x> \"q\"".split()
    return [wrap_row(i, " ".join(rng.choice(words) for _ in range(rng.randint(10, 80))),
                     "en", f"src{i % 20}")["html"] for i in range(60)]


def _corpus():
    return _page_strings(_corpus_bytes())


def _webify_pages():
    return _page_strings(_webify_bytes())


def test_corpus_equality():
    """Every fixture page (incl. malformed/truncated rows) segments
    identically on every tier."""
    for html_str in _corpus():
        assert_equal_segmentation(html_str)


def test_webify_pages_equality():
    """The crawl pages' shell (webify over plain text with entities to
    escape) segments identically on every tier."""
    for html_str in _webify_pages():
        assert_equal_segmentation(html_str)


ADVERSARIAL = [
    "plain text no markup",
    "a < b and c > d",                              # stray '<' → bail path
    '<div class="x>y">quoted gt</div>',             # quoted '>' → bail path
    "<a href=/>slash value</a>",                    # '/' is the attr value
    "<br/><hr /><p>x</p>",
    "<DIV CLASS=NAV>upper</DIV>",
    "<p>ent &amp; ities &#120; &unknown; &lt</p>",
    '<p title="a&amp;b" class="na&#118;">attr entities</p>',
    '<script>var s = "</div>not html";</script><p>after</p>',
    "<script>no close tag",                         # unterminated cdata → bail
    "<!-- unterminated comment",
    "<!DOCTYPE html><p>x</p>",
    "<?php echo 1 ?><p>pi</p>",
    "</p junk attr>bogus end</p>",
    "<p>truncated <di",
    "<p>empty attrs <span =broken>x</span></p>",
    "<ul><li>a<li>b</ul>",                          # unclosed li (valid html)
    "<p>nested <nav>killed <p>inner</p></nav> after</p>",
    '<div style="display:none">hidden</div><div>shown</div>',
    '<div id="sidebar-main">boiler</div><div id="content">keep</div>',
    "<a><a>double anchor</a>one deep</a> zero",
    "<p>multi\n\nline\twhitespace   runs</p>",
    "<p>cjk 获奖学生：张三、李四 一等奖</p>",
    "<p></p><p> </p><p>x</p>",                      # empty/blank segments
    "<script type='text/javascript'>if (1<2) x();</script><p>y</p>",
    "<style>.a{color:red}</style><p>styled</p>",
    "<p foo='bar'baz=qux>adjacent attrs</p>",
    "<p/ >odd slash</p>",
    '<p><p class="nav"/>text </p>',        # self-closing boiler tag (regression:
    "<a href=x/>unquoted slash value</a>",  # the '/' belongs to the value)
    "<p><![CDATA[raw]]></p>",                       # marked section → bail
    "<!--note-- >visible text<!--x--><p>hi</p>",    # '-- >' closes a comment
    "<!-- a --->trailing dash<p>y</p>",
    "<!-->short</p>",
    "\x00<p>control\x01chars</p>",
    "<a id=''/ >slash then space: a start tag</a>",
    "<s class='menu'/\u3000>\x00",                 # unicode space after '/'
    "<SCRIPT></ſcript><p>x</p>",                    # ſ: not a close to html.parser
    "<script>x</script\u3000><p>y</p>",
    '<div class="nav\u3000x">unicode space in class</div><p>z</p>',
    '<div class="navİ">dotted capital I</div><p>z</p>',
    "<div id=ſidebar>long s</div><p>z</p>",
    '<p title="获奖 class=nav">cjk in a title</p>',
    '<div class="a&amp;nav">entity in class</div><p>z</p>',
    "<p>&#1;</p><p>&#x1;&#2;</p><p>&#xfffe;x</p>",  # references unescaped to ''
    "<span>&#169;</span><span>&#128;</span><p>&#0;</p>",
    "<!--c--\u3000>text</p>",
    "</p\u3000>end tag with unicode space",
    # quotes html.parser pairs differently from a left-to-right match
    '<d "=">"', "<A'/'>&", "<x' i='>", '<a"/">-',
    '<p a=b="x y= ">text "more</p>',
]


def test_adversarial_equality():
    for doc in ADVERSARIAL:
        assert_equal_segmentation(doc)


def test_extract_page_equality_on_adversarial(monkeypatch):
    """End-to-end: the page-level result (status, lines, confs, strategy)
    is the same with the native scanner on and off, including the
    strict/repair routing."""
    pages = ([d.encode("utf-8") for d in ADVERSARIAL] + _corpus_bytes()
             + _webify_bytes())
    native = [extract_page(p) for p in pages]
    monkeypatch.setattr(h, "_NATIVE", None)
    for page, got in zip(pages, native):
        assert got == extract_page(page), page[:200]


_soup_atoms = st.sampled_from([
    "<p>", "</p>", "<div class=nav>", "<div id='x'>", "</div>", "<br/>",
    "<a href='u'>", "</a>", "<script>", "</script>", "<!-- c -->", "<!doctype h>",
    "text ", "&amp;", "&#65;", "& loose ", "<", ">", '"', "'", "=", "/",
    " class=nav ", "<span style=\"display:none\">", "</span>", "词 ",
    "<p/>", "</p >", "<x y=z>", "\n", "\t",
    "<!--c-- >", "<!--c--->", "-->", "-- >",
])


@settings(max_examples=300, deadline=None)
@given(st.lists(_soup_atoms, min_size=0, max_size=40))
def test_fuzz_soup_equality(parts):
    assert_equal_segmentation("".join(parts))


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=300))
def test_fuzz_random_text_equality(doc):
    assert_equal_segmentation(doc)


_attr_names = st.sampled_from(["class", "id", "style", "href", "data-x", "CLASS", "checked"])
_attr_vals = st.sampled_from([
    None, "nav", "sidebar", "display:none", "a&amp;b", "x/", "/", "a b",
    "na&#118;", "", "x=y", "a'b",
])
_quote = st.sampled_from(['"', "'", ""])


@st.composite
def _tags(draw):
    name = draw(st.sampled_from(["p", "div", "span", "a", "br", "nav", "x1"]))
    attrs = []
    for _ in range(draw(st.integers(0, 3))):
        an = draw(_attr_names)
        av = draw(_attr_vals)
        if av is None:
            attrs.append(an)
        else:
            q = draw(_quote)
            if q == "" and (" " in av or av == ""):
                q = '"'   # unquoted value can't hold spaces or be empty
            attrs.append(f"{an}={q}{av}{q}")
    selfclose = draw(st.booleans())
    sep = draw(st.sampled_from([" ", "  ", "\n", "\t "]))
    blob = (sep + sep.join(attrs)) if attrs else ""
    return f"<{name}{blob}{'/' if selfclose else ''}>"


_struct_atoms = st.one_of(
    _tags(),
    st.sampled_from(["</p>", "</div>", "</span>", "</a>", "</nav>", "text ",
                     "词语 ", "&amp; ", "<!-- x -->", " "]),
)


@settings(max_examples=400, deadline=None)
@given(st.lists(_struct_atoms, min_size=1, max_size=30))
def test_fuzz_attr_shapes_equality(parts):
    """Attack the attr-parse and self-close logic specifically: random
    attribute quoting/entities/slashes in generated tags must segment
    identically on both paths."""
    assert_equal_segmentation("".join(parts))


_unicode_vals = st.sampled_from([
    "nav", "nav\u3000x", "x\xa0nav", "ſidebar", "İd", "navİ", "获奖 nav",
    "display:\u3000none", "display:none", "a&amp;nav", "cooKie", "x\u2028y",
])
_unicode_seps = st.sampled_from([" ", "\u3000", "\xa0", "\x1c", "\x0b", "\n"])


@st.composite
def _unicode_tags(draw):
    """Tags where Python's Unicode-aware \\s and IGNORECASE could differ
    from an ASCII reading: non-ASCII spaces and case-folding letters in
    attribute names, values, separators and before the closing '>'."""
    name = draw(st.sampled_from(["p", "div", "a", "span", "nav", "script", "style"]))
    sep = draw(_unicode_seps)
    attrs = []
    for _ in range(draw(st.integers(0, 2))):
        an = draw(st.sampled_from(["class", "id", "style", "title", "ſtyle", "İd"]))
        q = draw(st.sampled_from(['"', "'"]))
        attrs.append(f"{an}={q}{draw(_unicode_vals)}{q}")
    tail = draw(st.sampled_from(["", "/", "/ ", "/\u3000", " "]))
    return f"<{name}{sep if attrs else ''}{sep.join(attrs)}{tail}>"


_unicode_atoms = st.one_of(
    _unicode_tags(),
    st.sampled_from(["</p>", "</div>", "</a>", "</span>", "</nav>", "</script>",
                     "</ſcript>", "</script\u3000>", "</p\u3000>", "</style>",
                     "<!--c--\u3000>", "<!--c-->", "text ", "词语 ", "\u3000",
                     "&#1;", "&#169;", "&amp;"]),
)


@settings(max_examples=400, deadline=None)
@given(st.lists(_unicode_atoms, min_size=1, max_size=30))
def test_fuzz_unicode_markup_equality(parts):
    assert_equal_segmentation("".join(parts))


def test_native_tier_enabled_on_this_interpreter():
    """The native scanner is built and loaded here, and it declines none
    of the fixture or webify pages: if a refactor or a toolchain change
    turns it off, every document silently takes the stdlib parser and
    only this test notices."""
    assert h._NATIVE is not None
    for html_str in _corpus() + _webify_pages():
        assert h._native_segments(html_str) is not None, html_str[:200]


def test_native_declines_tags_html_parser_reads_differently():
    """Tags whose quotes html.parser pairs differently from a left-to-right
    quote match (a quote in the tag name, one opening an attribute name,
    one closing a bare value) make the native scanner decline the page,
    even where no class/id/style attribute asks for a parse."""
    for doc in ['<d "=">"', "<A'/'>&", "<x' i='>", '<a"/">-',
                '<p a=b="x y= ">text "more</p>']:
        assert h._native_segments(doc) is None, doc


def test_native_tag_and_word_tables_match_the_python_ones():
    """_segscan.c keeps its own copies of KILL_TAGS, BLOCK_TAGS and the
    _BOILER_ATTR words; they must not drift from the Python ones."""
    import pkgutil
    import re

    src = pkgutil.get_data("ocr_award_extractor_spark.functions", "_segscan.c").decode()
    tags = re.search(r"TAGS\[\] = \{(.*?)\};", src, re.S).group(1)
    by_class = {}
    for name, cls in re.findall(r'\{"(\w+)", (T_[A-Z_ |]+)\}', tags):
        for c in cls.split(" | "):
            by_class.setdefault(c, set()).add(name)
    assert by_class["T_KILL"] == h.KILL_TAGS
    assert by_class["T_BLOCK"] == h.BLOCK_TAGS
    assert by_class["T_A"] == {"a"} and by_class["T_CDATA"] == {"script", "style"}
    words = re.search(r"BOILER_WORDS\[\] = \{(.*?)\};", src, re.S).group(1)
    pairs = re.findall(r'\{"(\w+)", (\d+)\}', words)
    assert all(len(w) == int(n) for w, n in pairs)
    py_words = re.search(r"\(\?:(nav\|.*?)\)", h._BOILER_ATTR.pattern).group(1)
    assert {w for w, _ in pairs} == set(py_words.split("|"))
    lens = [len(n) for n, _ in re.findall(r'\{"(\w+)", (T_[A-Z_ |]+)\}', tags)]
    by_len = [int(x) for x in re.search(r"BY_LEN\[[^]]*\] = \{([^}]*)\}", src).group(1)
              .replace(",", " ").split()]
    assert lens == sorted(lens)
    assert by_len == [sum(n < k for n in lens) for k in range(len(by_len))]


def test_native_bail_table_matches_this_interpreter():
    """The C scanner bails on the non-ASCII code points that Python's
    regexes read as whitespace or as an ASCII letter under IGNORECASE;
    its table must be exactly that set, and hold only code points of 2-
    and 3-byte UTF-8 sequences (the only ones it decodes)."""
    import ctypes
    import re
    import sys

    lib = h._NATIVE
    n = ctypes.c_int.in_dll(lib, "segscan_n_danger").value
    table = set((ctypes.c_uint32 * n).in_dll(lib, "segscan_danger"))
    want = {c for c in range(0x80, sys.maxunicode + 1)
            if chr(c).isspace() or re.match("(?i)[a-z]", chr(c))}
    assert table == want
    assert max(table) < 0x10000


def test_missing_compiler_warns_once_and_output_is_unchanged(
        tmp_path, monkeypatch, caplog):
    """With no cached library and no compiler, loading logs one WARNING
    that names the reason and returns None; the stdlib parser then gives
    the native tier's output."""
    import shutil

    from ocr_award_extractor_spark.functions import segscan

    monkeypatch.setenv("HOME", str(tmp_path))
    monkeypatch.setattr(shutil, "which", lambda name: None)
    with caplog.at_level(logging.WARNING, logger=segscan.__name__):
        assert segscan.load() is None
    messages = [(r.levelname, r.getMessage()) for r in caplog.records]
    assert len(messages) == 1 and messages[0][0] == "WARNING", messages
    assert "no C compiler" in messages[0][1]

    docs = _corpus() + ADVERSARIAL
    native = [_parts(segment_html(d)) for d in docs]
    monkeypatch.setattr(h, "_NATIVE", None)
    assert [_parts(segment_html(d)) for d in docs] == native


def test_cache_dir_is_trusted_only_when_private(tmp_path, monkeypatch):
    """A cache directory open to others, owned by another user, or a
    symlink is removed and made anew (mode 0700, this uid) before a
    library is built in it; a library planted in it is never loaded."""
    import os
    import stat

    from ocr_award_extractor_spark.functions import segscan

    monkeypatch.setenv("HOME", str(tmp_path))
    cache = tmp_path / ".cache" / "ocr_award_extractor_spark"
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()

    def plant_open_dir():
        cache.mkdir(parents=True)
        cache.chmod(0o777)

    def plant_foreign_dir():
        if os.getuid() != 0:
            pytest.skip("chown to another uid needs root")
        cache.mkdir(parents=True, mode=0o700)
        os.chown(cache, os.getuid() + 1, -1)

    def plant_symlink():
        cache.parent.mkdir(parents=True, exist_ok=True)
        cache.symlink_to(elsewhere, target_is_directory=True)

    for plant in (plant_open_dir, plant_symlink, plant_foreign_dir):
        if os.path.lexists(cache):
            if cache.is_symlink():
                cache.unlink()
            else:
                for f in cache.iterdir():
                    f.unlink()
                cache.rmdir()
        plant()
        target = elsewhere if cache.is_symlink() else cache
        (target / "planted.so").write_bytes(b"not a library")
        lib = segscan.load()
        assert lib is not None
        st_ = os.lstat(cache)
        assert stat.S_ISDIR(st_.st_mode) and stat.S_IMODE(st_.st_mode) == 0o700
        assert st_.st_uid == os.getuid()
        assert [p.suffix for p in cache.iterdir()] == [".so"]
        assert not (cache / "planted.so").exists()
        assert lib._name.startswith(str(cache))


def test_stdlib_parser_exception_becomes_an_error_row(monkeypatch):
    """segment_html_stdlib lets a parser exception propagate; extract_page
    turns it into a status='error' row naming the exception class."""
    def broken(self, data):
        raise RuntimeError("parser broke")

    monkeypatch.setattr(h._Segmenter, "feed", broken)
    with pytest.raises(RuntimeError):
        segment_html_stdlib("<p>x</p>")
    # a stray '<' makes the native scanner decline, so the stdlib parser runs
    row = extract_page("<p>a < b</p>".encode())
    assert row["status"] == "error" and row["lines"] == []
    assert "RuntimeError" in row["message"]
    assert extract_page(b"<p>fine</p>")["status"] == "success"


def test_disabled_fast_path_logs_the_failed_probe(monkeypatch, caplog):
    """The native scanner is never switched off silently: a drifted
    pattern or a probe that raises logs one WARNING naming it; a match
    logs none."""
    import re
    from html.parser import HTMLParser

    def drifted(self, elem):        # CPython 3.13's CDATA close
        self.cdata_elem = elem.lower()
        self.interesting = re.compile(r"</%s(?=[\t\n\r\f />])" % self.cdata_elem,
                                      re.IGNORECASE)

    def broken(self, elem):
        raise RuntimeError("no cdata mode")

    with caplog.at_level(logging.WARNING, logger=h.__name__):
        assert h._html_parser_compatible() is True
        assert caplog.records == []

        monkeypatch.setattr(HTMLParser, "set_cdata_mode", drifted)
        assert h._html_parser_compatible() is False

        monkeypatch.setattr(HTMLParser, "set_cdata_mode", broken)
        assert h._html_parser_compatible() is False
    messages = [(r.levelname, r.getMessage()) for r in caplog.records]
    assert len(messages) == 2 and all(lvl == "WARNING" for lvl, _ in messages)
    assert "script CDATA close pattern" in messages[0][1]
    assert "probe raised RuntimeError('no cdata mode')" in messages[1][1]


@pytest.mark.parametrize("name", ["endtagfind", "tagfind_tolerant", "attrfind_tolerant"])
def test_drifted_tag_pattern_disables_both_scanners(monkeypatch, caplog, name):
    """The native scanner hard-codes html.parser's end-tag, tag-name and
    attribute patterns; a drift in any of them fails the import probe,
    which keeps the native scanner off."""
    import html.parser
    import re

    monkeypatch.setattr(html.parser, name, re.compile("drifted"))
    with caplog.at_level(logging.WARNING, logger=h.__name__):
        assert h._html_parser_compatible() is False
    assert len(caplog.records) == 1 and "pattern" in caplog.records[0].getMessage()
