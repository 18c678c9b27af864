"""The session's driver-memory default is sized from the machine."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory(env_value: str | None) -> str:
    """spark.driver.memory as a fresh interpreter's session defaults set it."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_DRIVER_MEM"}
    if env_value is not None:
        env["SPARK_GRAFT_DRIVER_MEM"] = env_value
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from python_tool_setup_spark.session import _SCALE_DEFAULTS;"
            "print(_SCALE_DEFAULTS['spark.driver.memory'])",
        ],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    return out.stdout.strip()


def test_driver_memory_default_fits_physical_memory():
    mem = _default_driver_memory(None)
    assert mem.endswith("g"), mem
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 1 <= int(mem[:-1]) <= 32
    assert int(mem[:-1]) * 2**30 <= phys


def test_driver_memory_override_wins():
    assert _default_driver_memory("3g") == "3g"
