"""The correctness checker checks the engine of the checkout it sits in.

``scripts/check_correctness.py`` puts its repository root on ``sys.path``.
That root must come from the script's own location, so a second checkout
(a copy of the repository, a benchmark's parent checkout) checks its own
engine code and not another one. The module must also import no engine
code at module level: ``perfbench/oracle.load_checker`` loads it before
the engine is imported.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

_PROBE = """
import sys
sys.path.insert(0, sys.argv[1])
import check_correctness
assert "e_commerce_data_warehouse_recommendation_system_spark" not in sys.modules
import e_commerce_data_warehouse_recommendation_system_spark as pkg
print(pkg.__file__)
"""


def test_checker_resolves_engine_under_its_checkout(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, str(ROOT / "scripts")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    engine_init = Path(out.stdout.strip().splitlines()[-1]).resolve()
    assert engine_init.is_relative_to(ROOT), engine_init
