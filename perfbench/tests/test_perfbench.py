"""Self-tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import os
import random
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]

from inputs import (  # noqa: E402
    PAGE_FILES, digest, make_pages, near_dup_corpus, shingle_jaccard,
)
from tracing import (  # noqa: E402
    attach_stages, covered, parse_event_log, self_time, span_metrics,
)

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_tiny.jsonl")


def test_parser_folds_stages_by_job_group():
    parsed = parse_event_log(FIXTURE)
    g1, g2 = parsed["groups"]["g1"], parsed["groups"]["g2"]
    assert [s["id"] for s in g1] == [0, 2]
    grouped = [s for s in g1 if "FlatMapGroupsInPandas" in s["ops"]]
    assert len(grouped) == 1
    assert grouped[0]["python_s"] > 0 and grouped[0]["python_bytes_in"] > 0
    assert grouped[0]["tasks"] == 1 and grouped[0]["tasks_failed"] == 0
    assert sum(s["tasks"] for s in g1) == 5
    assert all(s["end"] >= s["start"] and s["cpu_s"] > 0 for s in g1 + g2)
    assert any("BroadcastHashJoin" in s["label"] for s in g2)
    assert sum(p.count("BroadcastHashJoin") for p in parsed["plans"]["g2"]) == 1
    assert sum(p.count("BroadcastHashJoin") for p in parsed["plans"]["g1"]) == 0


def test_stage_spans_give_self_time_and_driver_time():
    parsed = parse_event_log(FIXTURE)
    stages = parsed["groups"]["g1"]
    t0 = min(s["start"] for s in stages) - 1.0
    t1 = max(s["end"] for s in stages) + 0.5

    class T:  # the Tracer fields attach_stages reads
        run_id = "r"
        spans = [{"id": "0", "name": "call", "run_id": "r", "parent": None,
                  "start": t0, "end": t1}]

    parsed["groups"]["r:0"] = stages
    spans = attach_stages(T, parsed)
    call = spans[0]
    kids = [s for s in spans if s["parent"] == "0"]
    assert len(kids) == 2 and all(k["name"].startswith("stage:") for k in kids)
    busy = covered(t0, t1, [(s["start"], s["end"]) for s in stages])
    assert abs(call["self_s"] - ((t1 - t0) - busy)) < 1e-9
    m = span_metrics(call, stages)
    assert abs(m["driver_s"] - call["self_s"]) < 1e-9
    assert m["wall_s"] == t1 - t0 and m["python_s"] > 0


def test_self_time_merges_overlapping_children():
    span = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 4.0}, {"start": 3.0, "end": 5.0},
            {"start": 9.0, "end": 12.0}]
    assert self_time(span, kids) == 10.0 - 4.0 - 1.0


def test_digest_ignores_row_order():
    rows = [(i, f"u{i}", i * 0.1, np.int64(i)) for i in range(200)]
    shuffled = rows[:]
    random.Random(7).shuffle(shuffled)
    assert digest(rows) == digest(shuffled)
    assert digest(rows) != digest(rows[:-1])
    assert digest(rows) != digest(rows[:-1] + [(199, "u199", 19.9, 198)])


def test_near_dup_corpus_is_deterministic_per_seed():
    a, pa = near_dup_corpus(3, 300)
    b, pb = near_dup_corpus(3, 300)
    c, _ = near_dup_corpus(4, 300)
    pd.testing.assert_frame_equal(a, b)
    assert pa == pb
    assert not a["text"].equals(c["text"])
    assert sorted(a["doc_id"]) == list(range(300)) and len(pa) == 30
    text = dict(zip(a["doc_id"], a["text"]))
    lens = [len(t.split()) for t in a["text"]]
    assert 50 <= min(lens) and max(lens) <= 400
    assert all(shingle_jaccard(text[s], text[c]) > 0.6 for s, c in pa)


def test_pages_are_the_rows_of_the_seed_range(tmp_path):
    from batch3dfier_spark.datagen import gen_pages_range

    seed, n = 5, 40
    paths = [str(tmp_path / f"pages-{k}") for k in (1, 2)]
    for p in paths:
        make_pages(p, seed, n)
    want = gen_pages_range(seed * n, (seed + 1) * n, n_hosts=1000,
                           max_sentences=8)
    for p in paths:
        assert len(os.listdir(p)) == PAGE_FILES
        got = pd.read_parquet(p)
        got["warc_ts"] = got["warc_ts"].dt.tz_localize(None)
        pd.testing.assert_frame_equal(got.reset_index(drop=True), want,
                                      check_dtype=False)
