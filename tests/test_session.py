"""Session-conf scoping: ``session_confs`` is the one place that sets a
conf for a bounded stretch of code and puts it back."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from kmeans_with_mapreduce_cuda_spark.session import session_confs

PACKAGE = Path(__file__).resolve().parents[1] / "kmeans_with_mapreduce_cuda_spark"


def test_session_confs_nesting_and_exception_restore(spark):
    """Each block puts back the confs it found: an inner exit restores
    the outer block's values, the exception path restores too, and a key
    that was unset before comes back unset (not as its default string)."""
    sp, ws = "spark.sql.shuffle.partitions", "spark.sql.codegen.wholeStage"
    before_sp = spark.conf.get(sp)

    class Boom(Exception):
        pass

    # the outer block only restores the session's own codegen setting
    with session_confs(spark, {ws: "true"}):
        spark.conf.unset(ws)
        with session_confs(spark, {sp: "3", ws: "false"}):
            with session_confs(spark, {sp: "5"}):
                assert spark.conf.get(sp) == "5"
                assert spark.conf.get(ws) == "false"
            assert spark.conf.get(sp) == "3"
            assert spark.conf.get(ws) == "false"
        assert spark.conf.get(sp) == before_sp
        assert spark.conf.get(ws, None) is None

        with pytest.raises(Boom):
            with session_confs(spark, {sp: "3", ws: "false"}):
                with session_confs(spark, {sp: "5"}):
                    raise Boom()
        assert spark.conf.get(sp) == before_sp
        assert spark.conf.get(ws, None) is None


def test_no_hand_rolled_conf_restore_outside_session_module():
    """Temporary confs go through ``session_confs``: no ``finally:`` block
    elsewhere in the package calls ``.conf.set`` or ``.conf.unset``, so
    hand-rolled save/restore copies cannot grow back."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == PACKAGE / "session.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            for stmt in getattr(node, "finalbody", []):
                for call in ast.walk(stmt):
                    if (
                        isinstance(call, ast.Call)
                        and isinstance(call.func, ast.Attribute)
                        and call.func.attr in ("set", "unset")
                        and isinstance(call.func.value, ast.Attribute)
                        and call.func.value.attr == "conf"
                    ):
                        offenders.append(
                            f"{path.relative_to(PACKAGE.parent)}:{call.lineno}"
                        )
    assert not offenders, offenders
