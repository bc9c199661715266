"""The checkers must be able to fail: a corrupted span, a dropped doc and a
bucket committed twice are each reported as a failed document.

    python3 -m pytest perfbench/test_checks.py -q

Runs without Spark: the expected spans come from the DuckDB oracle over a
small ``documents`` table, and the "extracted" output is built from them.
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import corpus  # noqa: E402

SEED = 3
TAGS = [corpus.replica_tag(SEED, r) for r in range(2)]
GIANT_SPANS = 60


@pytest.fixture(scope="module")
def expected(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf"))
    oracle = checks.oracle_spans(corpus.write_documents(d, 40))
    return checks.Expected(oracle, TAGS, 1, GIANT_SPANS, SEED)


def _rows(expected, drop=()) -> pd.DataFrame:
    """The correct extracted output, as flattened rows."""
    recs = [(d, o, k, t, m) for d in expected.all_ids() if d not in drop
            for o, k, t, m in expected.spans(d)]
    return pd.DataFrame(recs, columns=["doc_id", "ord", "kind", "text",
                                       "media_ref"])


def _counts(expected, drop=()) -> dict:
    return {d: 1 for d in expected.all_ids() if d not in drop}


def _known(expected) -> int:
    """Docs whose token-path OCR spans never hold the md5 serial: a fault of
    the program, so even its correct output fails them on every run."""
    return sum(checks.md5_serial(int(b.removeprefix("doc_"))) not in
               [s[2] for s in spans if s[1] == "ocr_text"]
               for b, spans in expected.oracle.items()) * len(TAGS)


def _clean(expected, res) -> bool:
    return (res["failed"] == _known(expected) and not res["problems"]
            and set(res["failed_by_check"]) <= {"md5_serial"})


def _extra(expected, res) -> dict:
    """Failed docs per check beyond the known md5 misses."""
    out = dict(res["failed_by_check"])
    out["md5_serial"] = out.get("md5_serial", 0) - _known(expected)
    return {k: v for k, v in out.items() if v}


def test_correct_output_passes(expected):
    res = checks.check_docs(expected, _counts(expected), _rows(expected))
    assert _clean(expected, res)
    assert res["attempted"] == 40 * len(TAGS) + 1




def test_corrupt_span_fails(expected):
    rows = _rows(expected)
    victim = rows.index[(rows["kind"] == "main_text")][3]
    rows.loc[victim, "text"] = rows.loc[victim, "text"] + "x"
    res = checks.check_docs(expected, _counts(expected), rows)
    assert _extra(expected, res) == {"oracle": 1}


def test_wrong_serial_fails_even_when_oracle_agrees(expected):
    """A doc whose oracle spans were wrong would still fail the md5 check."""
    base = next(b for b, spans in sorted(expected.oracle.items())
                if checks.md5_serial(int(b.removeprefix("doc_")))
                in [s[2] for s in spans])
    bad = [(o, k, "C00000000001" if k == "ocr_text" else t, m)
           for o, k, t, m in expected.oracle[base]]
    victims = [d for d in expected.doc_ids if corpus.base_doc_id(d) == base]
    rows = _rows(expected, drop=set(victims))
    rows = pd.concat([rows, pd.DataFrame(
        [(d, *s) for d in victims for s in bad], columns=rows.columns)],
        ignore_index=True)
    tampered = checks.Expected(dict(expected.oracle, **{base: bad}), TAGS,
                               1, GIANT_SPANS, SEED)
    res = checks.check_docs(tampered, _counts(expected), rows)
    assert _extra(expected, res) == {"md5_serial": len(TAGS)}


def test_giant_line_fails(expected):
    rows = _rows(expected)
    g = expected.giant_ids[0]
    victim = rows.index[rows["doc_id"] == g][17]
    rows.loc[victim, "text"] = corpus.giant_line(17, SEED + 1)
    res = checks.check_docs(expected, _counts(expected), rows)
    assert _extra(expected, res) == {"oracle": 1}


def test_order_gap_fails(expected):
    rows = _rows(expected)
    doc = expected.doc_ids[2]
    rows.loc[rows["doc_id"] == doc, "ord"] += 1
    res = checks.check_docs(expected, _counts(expected), rows)
    assert _extra(expected, res)["order"] == 1


def test_dropped_doc_fails(expected):
    doc = expected.doc_ids[7]
    res = checks.check_docs(expected, _counts(expected, drop={doc}),
                            _rows(expected, drop={doc}))
    assert _extra(expected, res)["read_back"] == 1


def _commit(table: str, sid: int, bucket: int, rows: pd.DataFrame) -> None:
    """Write one icelite-format commit: a parquet data dir plus snapshot."""
    data = f"data/d{sid}"
    os.makedirs(os.path.join(table, data))
    spans = [[{"kind": k, "text": t, "media_ref": m, "order": o}
              for o, k, t, m in g[["ord", "kind", "text", "media_ref"]]
              .itertuples(index=False)]
             for _, g in rows.groupby("doc_id", sort=True)]
    ids = sorted(rows["doc_id"].unique())
    pq.write_table(pa.table({"doc_id": ids, "spans": spans}),
                   os.path.join(table, data, "part-0.parquet"))
    with open(os.path.join(table, "snapshots", f"v{sid}.json"), "w") as f:
        json.dump({"snapshot_id": sid, "data_dirs": [data],
                   "summary": {"bucket": bucket}, "lineage": []}, f)


def test_double_committed_bucket_fails(expected, tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "snapshots"))
    rows = _rows(expected)
    ids = expected.all_ids()
    halves = [set(ids[: len(ids) // 2]), set(ids[len(ids) // 2:])]
    for sid, bucket in ((1, 0), (2, 1), (3, 1)):  # bucket 1 twice
        _commit(table, sid, bucket, rows[rows["doc_id"].isin(halves[bucket])])
    counts, back = checks.read_extracted(checks.table_data_dirs(table))
    res = checks.check_docs(expected, counts, back)
    assert _extra(expected, res)["read_back"] == len(halves[1])


def test_single_commits_pass(expected, tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "snapshots"))
    rows = _rows(expected)
    ids = expected.all_ids()
    for sid, part in ((1, ids[::2]), (2, ids[1::2])):
        _commit(table, sid, sid - 1, rows[rows["doc_id"].isin(set(part))])
    counts, back = checks.read_extracted(checks.table_data_dirs(table))
    res = checks.check_docs(expected, counts, back)
    assert _clean(expected, res)


def test_resume_checks():
    ok = checks.check_resume(4, 2, {0, 3}, {"processed": [1, 2],
                                            "skipped": [0, 3]},
                             {"processed": [], "skipped": [0, 1, 2, 3]})
    assert ok == []
    redo = checks.check_resume(4, 2, {0, 3}, {"processed": [0, 1, 2, 3],
                                              "skipped": []},
                               {"processed": [], "skipped": [0, 1, 2, 3]})
    assert len(redo) == 2
    again = checks.check_resume(4, 2, {0, 3}, {"processed": [1, 2],
                                               "skipped": [0, 3]},
                                {"processed": [1], "skipped": [0, 2, 3]})
    assert len(again) == 2
