"""User column names reach Spark only through ``io.qcol``.

``F.col("a.b")`` parses the dot as struct access, so an operator that
passes a computed name (a CSV header, or a name built from one such as
``_f_{c}``) to ``F.col`` fails on dotted headers with UNRESOLVED_COLUMN.
This guard allows ``F.col`` only with a string literal (the operators'
own fixed names) in the cleaning operators and the exact-quantile path
they share."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GUARDED = sorted(glob.glob(os.path.join(ROOT, "dataforge_spark", "operators", "*.py"))) + [
    os.path.join(ROOT, "dataforge_spark", "functions", "quantiles.py")
]


def _computed_f_col_calls(path):
    tree = ast.parse(open(path).read(), path)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "col"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
            and not (
                len(node.args) == 1
                and not node.keywords
                and isinstance(node.args[0], ast.Constant)
                and isinstance(node.args[0].value, str)
            )
        ):
            yield f"{os.path.relpath(path, ROOT)}:{node.lineno}"


def test_f_col_takes_only_string_literals():
    assert len(GUARDED) > 10
    bad = [loc for p in GUARDED for loc in _computed_f_col_calls(p)]
    assert not bad, f"F.col with a computed name (use io.qcol): {bad}"


def test_guard_flags_a_computed_name(tmp_path):
    src = tmp_path / "sample.py"
    src.write_text('F.col("ok")\nF.col(c)\nF.col(f"_f_{c}")\n')
    assert len(list(_computed_f_col_calls(str(src)))) == 2
