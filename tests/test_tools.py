"""The scripts under tools/ run the code of their own checkout."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tool_imports_its_own_checkout(tmp_path):
    """A copy of tools/check_oracle.py puts its own checkout first on
    sys.path, so the __spark_entry__ imported after it (as
    perfbench/pipeline.py does) is the copy's, not another checkout's."""
    (tmp_path / "tools").mkdir()
    (tmp_path / "tools" / "__init__.py").write_text("")
    shutil.copy(os.path.join(ROOT, "tools", "check_oracle.py"), tmp_path / "tools")
    (tmp_path / "__spark_entry__.py").write_text("")
    out = subprocess.run(
        [sys.executable, "-c", "import tools.check_oracle, __spark_entry__; print(__spark_entry__.__file__)"],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == str(tmp_path / "__spark_entry__.py")
