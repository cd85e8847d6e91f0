"""Fast-scanner fidelity: segment_html (fast + stdlib fallback) must equal
segment_html_stdlib on EVERY document — corpus, adversarial constructs, and
hypothesis fuzz. The scanner is faithful-or-bail; these tests catch the only
dangerous failure mode (mis-handling a construct it claims to handle)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_award_extractor_spark.functions.htmltext import (
    extract_page, segment_html, segment_html_stdlib,
)


def _key(segments):
    return [(s.text(), s.link_chars, sum(len(p) for p in s.parts))
            for s in segments]


def assert_equal_segmentation(html_str: str) -> None:
    assert _key(segment_html(html_str)) == _key(segment_html_stdlib(html_str)), (
        html_str[:200]
    )


def test_corpus_equality():
    """Every fixture page (incl. malformed/truncated rows) segments
    identically on both paths."""
    from ocr_award_extractor_spark.sources.fixture_gen import generate_rows

    rows = generate_rows(400, seed=11)
    for r in rows:
        try:
            html_str = r["html"].decode("utf-8")
        except UnicodeDecodeError:
            html_str = r["html"].decode("utf-8", errors="replace")
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
]


def test_adversarial_equality():
    for doc in ADVERSARIAL:
        assert_equal_segmentation(doc)


def test_extract_page_equality_on_adversarial():
    """End-to-end: the page-level result (lines + confs + strategy) is
    unchanged by the fast path, including the repair-pass routing."""
    for doc in ADVERSARIAL:
        got = extract_page(doc.encode("utf-8"))
        assert isinstance(got["lines"], list)


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


def test_fast_path_enabled_on_this_interpreter():
    """The import-time stdlib-compat probe must be ON here (CPython 3.11's
    html.parser matches the fast patterns) — if a refactor or interpreter
    bump flips it off, every document silently takes the ~2x-slower stdlib
    path and only this test notices. The probe itself must also fail
    closed: a mismatching pattern disables the fast path."""
    import re

    from ocr_award_extractor_spark.functions import htmltext as h

    assert h._FAST_ENABLED is True
    # fail-closed: simulate a drifted stdlib pattern
    orig = h._FAST_CDATA_CLOSE["script"]
    h._FAST_CDATA_CLOSE["script"] = re.compile("</script(?=[\\t\\n\\r\\f />])")
    try:
        assert h._stdlib_fast_compatible() is False
    finally:
        h._FAST_CDATA_CLOSE["script"] = orig
    assert h._stdlib_fast_compatible() is True


def test_disabled_fast_path_logs_the_failed_probe(monkeypatch, caplog):
    """The fast path is never switched off silently: a drifted pattern or
    a probe that raises logs one WARNING naming it; a match logs none."""
    import logging
    import re
    from html.parser import HTMLParser

    from ocr_award_extractor_spark.functions import htmltext as h

    with caplog.at_level(logging.WARNING, logger=h.__name__):
        assert h._stdlib_fast_compatible() is True
        assert caplog.records == []

        monkeypatch.setitem(h._FAST_CDATA_CLOSE, "script", re.compile("</script"))
        assert h._stdlib_fast_compatible() is False
        monkeypatch.undo()

        def broken(self, elem):
            raise RuntimeError("no cdata mode")

        monkeypatch.setattr(HTMLParser, "set_cdata_mode", broken)
        assert h._stdlib_fast_compatible() is False
    messages = [(r.levelname, r.getMessage()) for r in caplog.records]
    assert len(messages) == 2 and all(lvl == "WARNING" for lvl, _ in messages)
    assert "script CDATA close pattern" in messages[0][1]
    assert "probe raised RuntimeError('no cdata mode')" in messages[1][1]
