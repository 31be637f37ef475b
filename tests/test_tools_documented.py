"""Every script under tools/ is named in README.md and compiles, so a
tool that nothing documents (a one-off A/B or timing script) cannot
linger unnoticed. Starts no Spark job."""

import glob
import os
import py_compile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(glob.glob(os.path.join(ROOT, "tools", "*.py")))


def test_tools_exist():
    assert TOOLS


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_is_documented_and_compiles(path, tmp_path):
    with open(os.path.join(ROOT, "README.md"), encoding="utf-8") as f:
        readme = f.read()
    assert f"tools/{os.path.basename(path)}" in readme
    py_compile.compile(path, cfile=str(tmp_path / "tool.pyc"), doraise=True)
