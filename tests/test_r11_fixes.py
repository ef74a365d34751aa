"""Pins for the round-11 fixes (VERDICT r10 / ADVICE items).

1. Dialect comment masking keeps an abutting comment+literal separable
   (ADVICE r10 low): "IREGEXP/*c*/'a.c'" must translate, not raise.
"""

from __future__ import annotations


def test_iregexp_abutting_comment_literal_translates():
    from minimised_impala_spark.dialect import translate

    # comment and literal abut — under single-placeholder masking they
    # formed one \x00 run classified wholesale as comment, and translate
    # raised ValueError on valid SQL
    assert (
        translate("SELECT x IREGEXP/*c*/'a.c' FROM t")
        == "SELECT x RLIKE '(?i)a.c' FROM t"
    )
    # literal-then-comment abutting on the tail side: the comment sits
    # OUTSIDE the operand and is preserved verbatim
    assert (
        translate("SELECT x IREGEXP 'a.c'/*c*/ FROM t")
        == "SELECT x RLIKE '(?i)a.c'/*c*/ FROM t"
    )


def test_scale_smoke_zero_row_guard():
    """A 0-row result at any probed scale is a vacuous timing (a streaming
    query that staged no input at sf1 once timed as a pass) and must fail
    the scale smoke unless whitelisted."""
    from tools.mis import ZERO_ROW_OK, vacuous

    assert vacuous("q", [100, 0])
    assert vacuous("q", [0, 100])
    assert not vacuous("q", [100, 1000])
    assert not vacuous(next(iter(ZERO_ROW_OK)), [100, 0])
