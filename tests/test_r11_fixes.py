"""Pins for the round-11 fixes (VERDICT r10 / ADVICE items).

1. Streaming stage-dir reconcile repairs DANGLING and WRONG-TARGET
   symlinks (ADVICE r10 medium): after a fixture regeneration the old
   link's target disappears; os.path.exists follows the link, the blind
   re-symlink raised-and-swallowed FileExistsError, and the stream read
   missing input forever. lexists + realpath comparison fixes it.
2. Dialect comment masking keeps an abutting comment+literal separable
   (ADVICE r10 low): "IREGEXP/*c*/'a.c'" must translate, not raise.
"""

from __future__ import annotations

import os

from minimised_impala_spark.streaming.windows import _reconcile_stage_links


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


def test_stage_reconcile_repairs_dangling_link(tmp_path):
    target_old = tmp_path / "part-old.parquet"
    target_new = tmp_path / "part-new.parquet"
    target_old.write_bytes(b"old")
    target_new.write_bytes(b"new")
    stage = tmp_path / "stage"
    stage.mkdir()
    link = stage / "events_0_0.parquet"
    os.symlink(str(target_old), str(link))
    # fixture regenerated: old part file is gone, link now dangles
    target_old.unlink()
    assert not os.path.exists(str(link)) and os.path.lexists(str(link))
    _reconcile_stage_links(str(stage), {"events_0_0.parquet": str(target_new)})
    assert os.path.realpath(str(link)) == os.path.realpath(str(target_new))
    assert open(str(link), "rb").read() == b"new"


def test_stage_reconcile_repairs_wrong_target_link(tmp_path):
    a = tmp_path / "a.parquet"
    b = tmp_path / "b.parquet"
    a.write_bytes(b"a")
    b.write_bytes(b"b")
    stage = tmp_path / "stage"
    stage.mkdir()
    link = stage / "documents_0.parquet"
    os.symlink(str(a), str(link))  # stale: points at last round's part
    _reconcile_stage_links(str(stage), {"documents_0.parquet": str(b)})
    assert open(str(link), "rb").read() == b"b"


def test_scale_smoke_zero_row_guard():
    """A 0-row result at any probed scale is a vacuous timing (a streaming
    query that staged no input at sf1 once timed as a pass) and must fail
    the scale smoke unless whitelisted."""
    from tools.mis import ZERO_ROW_OK, vacuous

    assert vacuous("q", [100, 0])
    assert vacuous("q", [0, 100])
    assert not vacuous("q", [100, 1000])
    assert not vacuous(next(iter(ZERO_ROW_OK)), [100, 0])


def test_stage_reconcile_removes_strays_and_is_idempotent(tmp_path):
    t = tmp_path / "t.parquet"
    t.write_bytes(b"t")
    stage = tmp_path / "stage"
    stage.mkdir()
    os.symlink(str(t), str(stage / "old_scheme_name.parquet"))
    expected = {"events_0_0.parquet": str(t)}
    _reconcile_stage_links(str(stage), expected)
    _reconcile_stage_links(str(stage), expected)  # idempotent
    assert sorted(os.listdir(str(stage))) == ["events_0_0.parquet"]
