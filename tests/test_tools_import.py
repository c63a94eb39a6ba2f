"""Every ``tools/*.py`` script must import cleanly: no work at import
time (a tool that opens DuckDB or starts Spark at module level fails
here), and no broken import or stale name left behind when a tool's
helpers move (the tools time queries through ``bench.warm_up`` /
``bench.time_noop``).

The imports run in one child interpreter, so module-level ``sys.path``
edits stay out of this process and a tool that started a SparkContext
would show up as an active context there.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
TOOLS = sorted(p.name for p in (ROOT / "tools").glob("*.py"))

_IMPORT_ALL = """
import importlib.util, json, sys
from pathlib import Path

errors = {}
for path in sorted(Path(sys.argv[1]).glob("*.py")):
    spec = importlib.util.spec_from_file_location(f"_tool_{path.stem}", path)
    try:
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
    except (Exception, SystemExit) as e:  # a tool must not exit on import either
        errors[path.name] = f"{type(e).__name__}: {e}"[:500]
from pyspark import SparkContext

print(json.dumps({"errors": errors, "spark": SparkContext._active_spark_context is not None}))
"""


@pytest.fixture(scope="module")
def imported():
    proc = subprocess.run(
        [sys.executable, "-c", _IMPORT_ALL, str(ROOT / "tools")],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("tool", TOOLS)
def test_tool_imports_cleanly(imported, tool):
    assert tool not in imported["errors"], imported["errors"][tool]


def test_tool_imports_start_no_spark(imported):
    assert not imported["spark"]


def test_skew_audit_table_names_live_callables():
    """Every case label in ``skew_audit.AUDITS`` names a registry query
    or an ``acuvate_spark.operators`` function, and every bound is
    positive: a renamed query fails here, not in the next audit run."""
    import importlib

    from acuvate_spark.queries import REGISTRY

    sys.path.insert(0, str(ROOT / "tools"))
    from skew_audit import AUDITS

    for audit, row in AUDITS.items():
        for label, bound in row.bounds.items():
            module, _, name = label.split()[0].rpartition(".")
            if module:
                ops = importlib.import_module(f"acuvate_spark.operators.{module}")
                assert hasattr(ops, name), (audit, label)
            else:
                assert name in REGISTRY, (audit, label)
            assert bound > 0, (audit, label)


def test_skew_audit_assign_override_is_restored():
    """One process runs several audits: the forced assign routing of
    one case must not reach the next, even when its build raises."""
    from acuvate_spark.operators import assign

    sys.path.insert(0, str(ROOT / "tools"))
    from skew_audit import _routed

    def limits():
        return assign.AUTO_SHUFFLE_MIN_K, assign.BROADCAST_MAX_K

    before = limits()
    assert _routed(limits, AUTO_SHUFFLE_MIN_K=-1, BROADCAST_MAX_K=-1)() == (-1, -1)

    def boom():
        raise ValueError("build failed")

    with pytest.raises(ValueError):
        _routed(boom, AUTO_SHUFFLE_MIN_K=-1)()
    assert limits() == before
