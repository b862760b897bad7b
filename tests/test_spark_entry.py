"""The entry point's query order: derived from the correctness
records beside ``__spark_entry__.py``, oldest-checked first."""

import glob
import json
import os
import re

import __spark_entry__
from loongcollector_spark.queries import QUERIES

ROOT = os.path.dirname(os.path.abspath(__spark_entry__.__file__))


def _last_round() -> dict[str, int]:
    last = {}
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)\.json$", path).group(1))
        with open(path) as f:
            for name in json.load(f):
                last[name] = max(last.get(name, rnd), rnd)
    return last


def test_queries_lead_with_the_oldest_checked():
    order = list(__spark_entry__.queries())
    assert len(order) == len(QUERIES) and set(order) == set(QUERIES)
    last = _last_round()
    # the 50-name correctness window: the names checked longest ago (today
    # the 50 last checked in round 3), in registration order
    oldest = min(last.get(n, -1) for n in QUERIES)
    want = [n for n in QUERIES if last.get(n, -1) == oldest][:50]
    assert order[: len(want)] == want
    # and the whole order: by last round checked, ties by registration
    pos = {n: i for i, n in enumerate(QUERIES)}
    keys = [(last.get(n, -1), pos[n]) for n in order]
    assert keys == sorted(keys)


def test_queries_keep_registration_order_without_records(monkeypatch, tmp_path):
    monkeypatch.setattr(__spark_entry__, "_HERE", str(tmp_path))
    assert list(__spark_entry__.queries()) == list(QUERIES)
