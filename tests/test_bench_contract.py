"""bench.py stdout contract: the round driver tail-captures stdout and
parses ONE JSON line with fixed keys — pin that shape end-to-end
(subprocess, vanilla environment) so a refactor can't silently break
the driver's BENCH_r{N} parse the way round 1's full-map overflow did."""

import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_emits_one_parseable_json_line(tmp_path):
    # Redirect the detail artifact into the test's tmpdir so this run
    # can never clobber the committed full-suite BENCH_DETAIL.json
    # (restoring via `git checkout` would silently discard an
    # uncommitted bench round's results).
    detail_path = tmp_path / "BENCH_DETAIL.json"
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        BENCH_QUERIES="wordcount,q1_pricing_summary",
        BENCH_DETAIL_PATH=str(detail_path),
    )
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=300,
        cwd=HERE,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    json_lines = [
        ln for ln in out.stdout.splitlines() if ln.startswith("{")
    ]
    assert len(json_lines) == 1, out.stdout
    payload = json.loads(json_lines[0])
    assert payload["metric"] == "sum_query_seconds"
    assert payload["unit"] == "sec"
    assert isinstance(payload["value"], (int, float))
    assert payload["sf"] == 0.001
    assert payload["n_queries"] == 2
    assert set(payload["queries"]) <= {"wordcount", "q1_pricing_summary"}
    # the full map lands at BENCH_DETAIL_PATH
    detail = json.load(open(detail_path))
    assert set(detail["queries"]) == {"wordcount", "q1_pricing_summary"}


def test_noisy_set_names_are_all_registered():
    """Same contract as the gate's priority lists: a typo'd (or later
    renamed) entry in bench.NOISY silently loses its best-of-2
    treatment and re-enters the marathon JIT whipsaw."""
    import bench
    from go_map_reduce_spark.registry import QUERIES

    missing = [n for n in bench.NOISY if n not in QUERIES]
    assert not missing, missing


def test_bench_noop_mode_contract(tmp_path):
    """The honest-mode path (BENCH_ACTION=noop) carries the same
    stdout contract, writes its OWN default-named detail artifact
    (BENCH_DETAIL_NOOP.json — committed per round beside the
    count-mode map, r11 verdict task 6), and forces full-column
    execution through the noop sink."""
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        BENCH_QUERIES="wordcount,q1_pricing_summary",
        BENCH_ACTION="noop",
    )
    # run from the tmpdir-copied script? No — the default artifact
    # lands next to bench.py, so redirect it explicitly like the
    # count-mode test does, but verify the DEFAULT NAME logic too by
    # asking bench.py what it would have used.
    detail_path = tmp_path / "BENCH_DETAIL_NOOP.json"
    env["BENCH_DETAIL_PATH"] = str(detail_path)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=300,
        cwd=HERE,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    json_lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    assert len(json_lines) == 1, out.stdout
    payload = json.loads(json_lines[0])
    assert payload["metric"] == "sum_query_seconds"
    assert payload["n_queries"] == 2
    detail = json.load(open(detail_path))
    assert set(detail["queries"]) == {"wordcount", "q1_pricing_summary"}


def test_bench_noop_default_artifact_name(tmp_path):
    """Without BENCH_DETAIL_PATH, noop-mode under --commit/BENCH_COMMIT
    must default to BENCH_DETAIL_NOOP.json next to the script
    (count-mode keeps BENCH_DETAIL.json) so the two committed
    artifacts can never clobber each other.  Run a COPY of bench.py
    from the tmpdir so the default artifact lands there, not over the
    committed one."""
    import shutil

    script = tmp_path / "bench.py"
    shutil.copy(os.path.join(HERE, "bench.py"), script)
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        BENCH_QUERIES="wordcount",
        BENCH_ACTION="noop",
        BENCH_COMMIT="1",
        PYTHONPATH=HERE,
    )
    env.pop("BENCH_DETAIL_PATH", None)
    out = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True,
        text=True,
        env=env,
        timeout=300,
        cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert (tmp_path / "BENCH_DETAIL_NOOP.json").exists()
    assert not (tmp_path / "BENCH_DETAIL.json").exists()
    detail = json.load(open(tmp_path / "BENCH_DETAIL_NOOP.json"))
    assert set(detail["queries"]) == {"wordcount"}


def test_noop_gap_contract_on_committed_pair():
    """r12 verdict task 6: the committed count/noop artifact pair must
    satisfy the noop-gap budget — every wide-gap query inside its
    documented class cap, every undocumented query under the default
    cap.  A new aggregate-final-heavy query (or a widened known gap)
    fails HERE, not in a judge's artifact diff."""
    from tools.noop_gap import stale_pair, violations

    count = json.load(open(os.path.join(HERE, "BENCH_DETAIL.json")))
    noop = json.load(open(os.path.join(HERE, "BENCH_DETAIL_NOOP.json")))
    reason = stale_pair(count, noop)
    assert reason is None, (
        f"stale pair: regenerate BENCH_DETAIL_NOOP.json ({reason})"
    )
    bad = violations(count["queries"], noop["queries"])
    assert bad == [], bad


def test_noop_gap_documented_names_are_registered():
    """Same discipline as bench.NOISY: a typo'd / renamed entry in the
    class table silently loses its documented cap."""
    from go_map_reduce_spark.registry import QUERIES
    from tools.noop_gap import DOCUMENTED_CLASSES

    missing = [n for n in DOCUMENTED_CLASSES if n not in QUERIES]
    assert not missing, missing


def test_noop_gap_flags_synthetic_widening():
    """The checker must actually fire: an undocumented query at 10x
    with real daylight is a violation; the same ratio under the
    absolute-gap noise floor is not; a documented query over its own
    cap is."""
    from tools.noop_gap import DEFAULT_CAP, violations

    count = {"new_query": 2.0, "tiny": 0.05, "substring_dup_cut": 1.0}
    noop = {"new_query": 20.0, "tiny": 0.5, "substring_dup_cut": 35.0}
    bad = violations(count, noop)
    names = [n for n, _, _ in bad]
    assert "new_query" in names
    assert "tiny" not in names  # 10x but under MIN_GAP_SECONDS daylight
    assert "substring_dup_cut" in names  # over its documented 30x cap
    ratios = {n: r for n, r, _ in bad}
    assert ratios["new_query"] == 10.0
    caps = {n: c for n, _, c in bad}
    assert caps["new_query"] == DEFAULT_CAP


def test_noop_gap_flags_stale_pair():
    """A count/noop pair from different runs is reported stale before
    any ratio is judged: an unstamped artifact (the shape of every
    artifact written before bench.py stamped them), another protocol
    and another core count each make the pair stale; equal stamps
    do not."""
    from tools.noop_gap import stale_pair

    def doc(action, **over):
        stamp = {
            "protocol": "memo-aware-1", "action": action,
            "query_set_sha256": "ab" * 32, "git_head": "0" * 40,
            "cpus": 4, "driver_memory": "8g", "sf": 0.1,
            "steal_vs_demand_pct": 0.5,
        }
        stamp.update(over)
        return {"queries": {"q": 1.0}, "stamp": stamp}

    count = doc("count")
    assert stale_pair(count, doc("noop", steal_vs_demand_pct=9.0)) is None
    unstamped = {"queries": {"q": 1.0}}
    assert "noop artifact has no stamp" in stale_pair(count, unstamped)
    assert "count artifact has no stamp" in stale_pair(unstamped, doc("noop"))
    assert "protocol" in stale_pair(count, doc("noop", protocol="memo-aware-0"))
    assert "cpus" in stale_pair(count, doc("noop", cpus=32))
    assert "actions" in stale_pair(count, doc("count"))


def test_bench_detail_carries_stamp(tmp_path):
    """bench.py stamps its detail artifact with every field the
    stale-pair check compares, and the stdout line keeps its shape."""
    from tools.noop_gap import PAIR_KEYS

    detail_path = tmp_path / "BENCH_DETAIL.json"
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        BENCH_QUERIES="wordcount",
        BENCH_DETAIL_PATH=str(detail_path),
    )
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=300,
        cwd=HERE,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = json.loads(
        [ln for ln in out.stdout.splitlines() if ln.startswith("{")][0]
    )
    assert "stamp" not in payload
    stamp = json.load(open(detail_path))["stamp"]
    assert set(PAIR_KEYS) | {"action", "steal_vs_demand_pct"} <= set(stamp)
    assert stamp["action"] == "count"
    assert stamp["cpus"] == 2
    assert stamp["driver_memory"] == "1g"
    assert stamp["sf"] == 0.001
    assert stamp["query_set_sha256"] == hashlib.sha256(b"wordcount").hexdigest()
    head = subprocess.run(
        ["git", "rev-parse", "HEAD"], capture_output=True, text=True, cwd=HERE,
    )
    assert stamp["git_head"] == (
        head.stdout.strip() if head.returncode == 0 else "unknown"
    )
    if head.returncode == 0:
        assert isinstance(stamp["git_dirty"], bool)
    else:
        assert stamp["git_dirty"] is None


def test_plain_run_defaults_to_gitignored_local_artifact(tmp_path):
    """r13 verdict task 7: a plain `python bench.py` (no --commit, no
    BENCH_DETAIL_PATH) must not overwrite the committed best-window
    BENCH_DETAIL.json — it writes the git-ignored *.local.json twin,
    so ad-hoc/driver smoke runs leave `git status` clean."""
    import shutil

    # Run from a scratch copy of the repo root's bench.py? No — the
    # default path is "next to bench.py", so run the real script but
    # assert on the NAME it reports and that the committed artifact's
    # mtime/content is untouched.
    committed = os.path.join(HERE, "BENCH_DETAIL.json")
    before = open(committed, "rb").read() if os.path.exists(committed) else None
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        BENCH_QUERIES="wordcount",
    )
    env.pop("BENCH_DETAIL_PATH", None)
    env.pop("BENCH_COMMIT", None)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=300,
        cwd=HERE,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = json.loads(
        [ln for ln in out.stdout.splitlines() if ln.startswith("{")][0]
    )
    assert payload["detail"] == "BENCH_DETAIL.local.json"
    local = os.path.join(HERE, "BENCH_DETAIL.local.json")
    assert os.path.exists(local)
    assert set(json.load(open(local))["queries"]) == {"wordcount"}
    os.remove(local)
    if before is not None:
        assert open(committed, "rb").read() == before, (
            "plain run clobbered the committed artifact"
        )
    # and the ignore rule actually covers the twin
    ignored = subprocess.run(
        ["git", "check-ignore", "BENCH_DETAIL.local.json"],
        capture_output=True, text=True, cwd=HERE,
    )
    assert ignored.returncode == 0
