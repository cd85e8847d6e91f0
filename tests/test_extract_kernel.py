"""Unit + property tests for the field-extraction kernel.

Hand-written cases pin every tricky rule from the reference
(certificate_ocr.py:314-407): longest-line tie-breaks, keyword priority
order, first-quote match, colon-segment selection, separator zoo, duplicate
preservation, clean_text prefix/quote stripping. The hypothesis suite then
fuzzes the kernel against the independently written oracle.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_award_extractor_spark.functions.extract import (
    AWARD_LEVELS,
    extract_fields,
    normalize_field,
)
from tests.reference_rules_oracle import oracle_extract


def fields(lines):
    return extract_fields(lines)


# ---------------------------------------------------------------- competition
def test_competition_longest_wins():
    r = fields(["全国大学生数学建模竞赛", "校内小比赛", "2024年全国青少年科技创新大赛决赛"])
    assert r["competition_name"] == "2024年全国青少年科技创新大赛决赛"


def test_competition_tie_first_wins():
    # equal length — Python max keeps the first maximal element (cert:346)
    a, b = "第九届机器人大赛A", "第九届机器人大赛B"
    assert len(a) == len(b)
    assert fields([b, a])["competition_name"] == b
    assert fields([a, b])["competition_name"] == a


def test_competition_absent_is_empty():
    assert fields(["荣誉证书", "特此证明"])["competition_name"] == ""


# ---------------------------------------------------------------- award level
def test_award_line_major_keyword_minor():
    # line order beats keyword priority: 优秀奖 appears in an earlier line
    # than 一等奖, so the earlier line wins (cert:348-355 double break).
    r = fields(["荣获优秀奖", "荣获一等奖"])
    assert r["award_level"] == "优秀奖"


def test_award_keyword_order_within_line():
    # within one line the fixed keyword list order decides: 一等奖 precedes
    # 金奖 in AWARD_LEVELS even though 金奖 appears first in the string.
    r = fields(["金奖与一等奖并列"])
    assert r["award_level"] == "一等奖"


def test_award_list_order_pinned():
    assert AWARD_LEVELS == ("一等奖", "二等奖", "三等奖", "特等奖", "金奖", "银奖", "铜奖", "优秀奖")


def test_award_substring_keyword():
    # 特等奖 contains no earlier keyword; but 一等奖 is a substring of
    # 特殊一等奖-style strings — membership is plain `in`.
    assert fields(["荣获特等奖"])["award_level"] == "特等奖"


# ---------------------------------------------------------------- project name
def test_project_first_quoted_span():
    r = fields(['项目《智能灌溉系统》与《备用项目》'])
    assert r["project_name"] == "智能灌溉系统"


def test_project_ascii_quotes():
    r = fields(['作品"桥梁监测"获奖'])
    assert r["project_name"] == "桥梁监测"


def test_project_mixed_quote_close():
    # char classes are {《,"} and {》,"}: a span may open with 《 and close
    # with " — the lazy match stops at the first closer.
    r = fields(['《智能"系统》'])
    assert r["project_name"] == '智能'


def test_project_does_not_cross_lines():
    # `.` does not match newline (no DOTALL in cert:358)
    r = fields(["前《未闭合", "闭合》后"])
    assert r["project_name"] == ""


# ---------------------------------------------------------------- people
def test_winner_basic_separators():
    r = fields(["获奖学生：张三、李四，王五,赵六；钱七;孙八"])
    assert r["winner"] == ["张三", "李四", "王五", "赵六", "钱七", "孙八"]


def test_winner_only_first_colon_segment():
    # only parts[1] — the segment between the 1st and 2nd full-width colon —
    # is tokenized (cert:366-368 uses parts[1], not the tail).
    r = fields(["负责人：张三：李四"])
    assert r["winner"] == ["张三"]


def test_winner_ascii_colon_ignored():
    assert fields(["获奖者: 张三"])["winner"] == []


def test_winner_empty_segment_dropped():
    r = fields(["队员：张三、、李四、 "])
    assert r["winner"] == ["张三", "李四"]


def test_winner_marker_without_colon_contributes_nothing():
    assert fields(["全体获奖学生名单如下"])["winner"] == []


def test_duplicates_kept_in_order():
    # fallback path never dedupes (list(set()) lives on the LLM path only)
    r = fields(["获奖学生：张三、张三", "队员：张三"])
    assert r["winner"] == ["张三", "张三", "张三"]


def test_teacher_markers():
    r = fields(["指导教师：王老师，李老师", "导师：赵教授"])
    assert r["teacher"] == ["王老师", "李老师", "赵教授"]


def test_line_matching_both_roles():
    r = fields(["负责人兼导师：张三"])
    assert r["winner"] == ["张三"]
    assert r["teacher"] == ["张三"]


# ---------------------------------------------------------------- clean_text
def test_clean_collapses_whitespace():
    assert normalize_field("  全国  大赛\t决赛 ") == "全国 大赛 决赛"


def test_clean_strips_leading_verb():
    assert normalize_field("获得全国一等奖") == "全国一等奖"
    assert normalize_field("关于举办大赛的通知") == "举办大赛的通知"


def test_clean_verb_requires_tail():
    # ^(?:关于|获得|授予)(.+)$ needs ≥1 char after the verb
    assert normalize_field("获得") == "获得"


def test_clean_strips_wrapping_quotes():
    assert normalize_field("《智能系统》") == "智能系统"
    assert normalize_field('"双引号"') == "双引号"
    assert normalize_field("'单引号'") == "单引号"


def test_clean_order_verb_then_quotes():
    assert normalize_field("获得《智能系统》") == "智能系统"


def test_clean_empty():
    assert normalize_field("") == ""
    assert normalize_field("   ") == ""


# ---------------------------------------------------------------- parity fuzz
_CJK_BITS = st.sampled_from(
    ["大赛", "一等奖", "金奖", "获奖学生", "指导教师", "导师", "负责人", "：",
     "、", "，", ";", "《", "》", '"', "张三", "李四", "王老师", " ", "  ",
     "关于", "获得", "授予", "x", "证书", "比赛", "挑战赛", "优秀奖", "\t", ":"]
)
_LINE = st.lists(_CJK_BITS, min_size=0, max_size=12).map("".join)


@settings(max_examples=300, deadline=None)
@given(st.lists(_LINE, min_size=0, max_size=8))
def test_kernel_matches_independent_oracle(lines):
    full = "\n".join(lines)
    got = extract_fields(lines, full)
    want = oracle_extract(full, lines)
    assert got["competition_name"] == want["competition_name"]
    assert got["award_level"] == want["award_level"]
    assert got["project_name"] == want["project_name"]
    assert got["winner"] == want["people"]["winner"]
    assert got["teacher"] == want["people"]["teacher"]
