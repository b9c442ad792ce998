"""Every ``scripts/<name>.py`` that the code, the tests or README.md names
must exist: a deleted or renamed script otherwise leaves a dangling
pointer in a docstring or a usage line that nothing else catches."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCRIPT_REF = re.compile(r"\bscripts/(\w+\.py)\b")


def _sources() -> list[Path]:
    files = [ROOT / "README.md", *ROOT.glob("*.py")]
    for d in ("nrg_etl_airflow_spark_emr_spark", "scripts", "tests"):
        files.extend((ROOT / d).rglob("*.py"))
    return files


def test_named_scripts_exist():
    refs = {
        (path.relative_to(ROOT), name)
        for path in _sources()
        for name in SCRIPT_REF.findall(path.read_text(encoding="utf-8"))
    }
    # Guard against a regex or path change that silently matches nothing.
    assert {"gen_catalog.py", "stall_probe.py"} <= {name for _, name in refs}
    missing = sorted(
        f"{path}: scripts/{name}" for path, name in refs if not (ROOT / "scripts" / name).is_file()
    )
    assert not missing, "dangling script references:\n" + "\n".join(missing)
