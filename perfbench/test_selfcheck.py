"""Self-checks of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import driver  # noqa: E402
import gen  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _digest(d: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generation_is_a_function_of_the_seed(tmp_path, workload):
    make = gen.GENERATORS[workload]
    make(7, str(tmp_path / "a"))
    make(7, str(tmp_path / "b"))
    make(8, str(tmp_path / "c"))
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_openloop_ticks_are_a_function_of_seed_and_tick():
    a, late_a = gen.openloop_tick(7, 3)
    b, late_b = gen.openloop_tick(7, 3)
    c, _ = gen.openloop_tick(7, 4)
    pd.testing.assert_frame_equal(a, b)
    assert late_a == late_b
    assert not a["url"].equals(c["url"])


def test_openloop_late_rows_own_their_hosts():
    hosts = []
    n_late = 0
    for tick in range(200):
        df, late = gen.openloop_tick(3, tick)
        n_late += late
        k = df["url"].str.extract(r"^https://h(\d+)\.", expand=False).astype(int)
        hosts += k[k >= gen.OPENLOOP["hosts"]].tolist()
    assert n_late == len(hosts) > 0
    assert len(set(hosts)) == len(hosts)


def test_collapsed_mtimes_are_refused(tmp_path):
    gen.gen_extract_drain(1, str(tmp_path / "in"))
    d = str(tmp_path / "in")
    gen.stamp_mtimes(d)
    gen.verify_mtimes(d)
    for name in os.listdir(d):  # what cp -r does to the replay order
        os.utime(os.path.join(d, name), (1_700_000_000, 1_700_000_000))
    with pytest.raises(RuntimeError, match="mtime"):
        gen.verify_mtimes(d)


def test_names_are_well_formed_and_unique():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    names = [w["name"] for w in b["workloads"]]
    names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))
    assert {w["name"] for w in b["workloads"]} <= set(driver.WORKLOADS)


def test_planted_wrong_rows_are_errors():
    exp = pd.DataFrame({"k": [1, 2, 3, 4], "v": [10, 20, None, 40]})
    keys, vals = ["k"], ["v"]
    assert driver.diff_rows(exp.copy(), exp, keys, vals) == 0
    wrong = exp.copy()
    wrong.loc[1, "v"] = 21
    assert driver.diff_rows(wrong, exp, keys, vals) == 1
    assert driver.diff_rows(exp.iloc[1:], exp, keys, vals) == 1  # missing
    extra = pd.concat([exp, pd.DataFrame({"k": [5], "v": [50]})])
    assert driver.diff_rows(extra, exp, keys, vals) == 1
    dup = pd.concat([exp, exp.iloc[:1]])
    assert driver.diff_rows(dup, exp, keys, vals) == 1
    assert driver.diff_rows(pd.DataFrame(), exp, keys, vals) == len(exp)
