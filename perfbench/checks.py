"""Output checks that do not rely on the program's own output.

Expected spans come from three sources computed apart from the pipeline:

* DuckDB runs ``extract_oracle_sql()`` over the base ``documents`` table;
  every replica ``<base>~<tag>`` must equal its base doc;
* the serial each doc's image span must yield is recomputed here with
  ``hashlib.md5`` and must be among the doc's ``ocr_text`` spans (token OCR
  lists its confusable variants too);
* a giant doc's spans are one ``main_text`` line per pdf span, in closed
  form (``corpus.giant_line``).

Every doc must also carry a dense ``order`` 0..n-1.  One operation is one
document: a doc that is missing, read back more than once, or differs in any
span counts as failed.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import tempfile
from collections import defaultdict

import pandas as pd

import corpus

_MID = str.maketrans("ABCDEF", "HJKMNP")
_DIGIT = str.maketrans("ABCDEF", "012345")


def md5_serial(doc_num: int) -> str:
    """12-char serial of base doc ``doc_num``: 'C' + md5 hex chars 0..10 with
    A-F mapped to digits (chars 0 and 10) or to HJKMNP (chars 1..9)."""
    h = hashlib.md5(str(doc_num).encode()).hexdigest().upper()
    return ("C" + h[0].translate(_DIGIT) + h[1:10].translate(_MID)
            + h[10].translate(_DIGIT))


def _duckdb():
    """An in-memory DuckDB that spills, if ever, into the temp dir."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    return con


def oracle_spans(documents_parquet: str,
                 cache_dir: str | None = None) -> dict[str, list]:
    """base doc_id -> [(order, kind, text, media_ref), ...] from DuckDB.

    The token-stream oracle costs ~60 ms per base doc in DuckDB, so with a
    ``cache_dir`` its rows are kept there under a hash of the SQL text and
    the documents file: the first run in a checkout computes them, later
    runs read them back, and any change to the oracle SQL recomputes."""
    from apple_ocr_backend_spark.plans.extract_oracle import (
        extract_oracle_sql)
    sql = extract_oracle_sql()
    path = None
    if cache_dir is not None:
        h = hashlib.sha256(sql.encode())
        with open(documents_parquet, "rb") as f:
            h.update(f.read())
        path = os.path.join(cache_dir, f"oracle-{h.hexdigest()[:20]}.parquet")
        if os.path.exists(path):
            return group_rows(pd.read_parquet(path))
    con = _duckdb()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{documents_parquet}')")
        rows = con.execute(sql).fetchdf()
    finally:
        con.close()
    if path is not None:
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        rows.to_parquet(tmp, index=False)
        os.replace(tmp, path)
    return group_rows(rows)


def group_rows(rows: pd.DataFrame) -> dict[str, list]:
    """(doc_id, ord, kind, text, media_ref) rows -> doc_id -> sorted spans."""
    out: dict[str, list] = defaultdict(list)
    for d, o, k, t, m in rows[["doc_id", "ord", "kind", "text",
                               "media_ref"]].itertuples(index=False):
        out[d].append((int(o), k, t, None if m is None or m != m else m))
    for spans in out.values():
        spans.sort()
    return dict(out)


def giant_spans(spans_each: int, seed: int) -> list:
    return [(i, "main_text", corpus.giant_line(i, seed), None)
            for i in range(spans_each)]


class Expected:
    """What the extracted corpus must hold: ``oracle`` spans per base doc,
    the replica tags, and the giant docs' shape."""

    def __init__(self, oracle: dict[str, list], replica_tags: list[str],
                 n_giants: int, spans_each: int, seed: int) -> None:
        self.oracle = oracle
        self.doc_ids = [f"{b}~{t}" for b in sorted(oracle)
                        for t in replica_tags]
        self.giant_ids = [f"{corpus.GIANT_PREFIX}{g}~s{seed:x}"
                          for g in range(n_giants)]
        self.giant = giant_spans(spans_each, seed) if n_giants else []

    def spans(self, doc_id: str) -> list:
        if doc_id.startswith(corpus.GIANT_PREFIX):
            return self.giant
        return self.oracle.get(corpus.base_doc_id(doc_id), [])

    def all_ids(self) -> list[str]:
        return self.doc_ids + self.giant_ids


def _doc_problem(doc_id: str, got: list,
                 want: list) -> tuple[str, str] | None:
    """(kind, message) of the first check ``doc_id`` fails, else None."""
    orders = [s[0] for s in got]
    if orders != list(range(len(got))):
        return "order", f"{doc_id}: order not dense from 0 ({orders[:5]}...)"
    if got != want:
        diff = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b),
                    min(len(got), len(want)))
        return "oracle", (f"{doc_id}: span {diff} differs: got "
                          f"{got[diff] if diff < len(got) else None!r}, want "
                          f"{want[diff] if diff < len(want) else None!r}")
    if not doc_id.startswith(corpus.GIANT_PREFIX):
        serial = md5_serial(int(corpus.base_doc_id(doc_id)
                                .removeprefix("doc_")))
        ocr = [s[2] for s in got if s[1] == "ocr_text"]
        if serial not in ocr:
            return "md5_serial", (f"{doc_id}: ocr spans {ocr} miss md5 "
                                  f"serial {serial}")
    return None


def check_docs(expected: Expected, doc_counts: dict[str, int],
               rows: pd.DataFrame) -> dict:
    """Compare the extracted corpus with ``expected``.

    ``doc_counts``: how many times each doc_id was read back (a doc with an
    empty span array still counts once); ``rows``: its flattened spans.
    One attempt per expected doc.  Returns the counts, failed docs per
    check and a few examples; ``problems`` lists what is wrong beyond
    single docs (unexpected doc ids), which makes the run incorrect."""
    got = group_rows(rows)
    want_ids = expected.all_ids()
    by_kind: dict[str, int] = defaultdict(int)
    examples: list[str] = []
    for d in want_ids:
        n = doc_counts.get(d, 0)
        p = (("read_back", f"{d}: read back {n} times") if n != 1
             else _doc_problem(d, got.get(d, []), expected.spans(d)))
        if p is not None:
            by_kind[p[0]] += 1
            if len(examples) < 10:
                examples.append(p[1])
    extra = sorted(set(doc_counts) - set(want_ids))
    problems = ([f"{len(extra)} unexpected doc ids, e.g. {extra[:3]}"]
                if extra else [])
    return {"attempted": len(want_ids), "failed": sum(by_kind.values()),
            "failed_by_check": dict(by_kind), "examples": examples,
            "problems": problems}


def read_extracted(parquet_paths: list[str]) -> tuple[dict[str, int],
                                                      pd.DataFrame]:
    """Read extracted docs(doc_id, spans) parquet files with DuckDB:
    per-doc read counts and the flattened span rows."""
    files = sorted(f for p in parquet_paths
                   for f in glob.glob(os.path.join(p, "*.parquet")))
    if not files:
        return {}, pd.DataFrame(columns=["doc_id", "ord", "kind", "text",
                                         "media_ref"])
    con = _duckdb()
    try:
        con.execute(f"CREATE VIEW x AS SELECT * FROM read_parquet({files!r})")
        counts = dict(con.execute(
            "SELECT doc_id, count(*) FROM x GROUP BY doc_id").fetchall())
        rows = con.execute(
            "SELECT doc_id, s.\"order\" AS ord, s.kind, s.text, s.media_ref "
            "FROM (SELECT doc_id, unnest(spans) AS s FROM x)").fetchdf()
    finally:
        con.close()
    return counts, rows


def parquet_bytes(paths: list[str]) -> int:
    return sum(os.path.getsize(f) for p in paths
               for f in glob.glob(os.path.join(p, "*.parquet")))


_SNAP = re.compile(r"^v(\d+)\.json$")


def committed_snapshots(table_dir: str) -> list[dict]:
    """The table's committed snapshot chain, read from its JSON log: the
    consecutive run v1, v2, ... (a file past a gap is not committed)."""
    snap_dir = os.path.join(table_dir, "snapshots")
    snaps = {}
    for name in os.listdir(snap_dir):
        m = _SNAP.match(name)
        if m:
            with open(os.path.join(snap_dir, name)) as f:
                snaps[int(m.group(1))] = json.load(f)
    chain, i = [], 1
    while i in snaps:
        chain.append(snaps[i])
        i += 1
    return chain


def committed_buckets(table_dir: str) -> set:
    return {s["summary"]["bucket"] for s in committed_snapshots(table_dir)
            if "bucket" in s.get("summary", {})}


def table_data_dirs(table_dir: str) -> list[str]:
    return [os.path.join(table_dir, d)
            for s in committed_snapshots(table_dir) for d in s["data_dirs"]]


def check_resume(n_buckets: int, fail_after: int, committed_after_stop: set,
                 resumed: dict, again: dict) -> list[str]:
    """The stopped call committed exactly ``fail_after`` buckets; the resumed
    call processed exactly the rest and skipped those; a third call
    processed none."""
    problems = []
    everything = set(range(n_buckets))
    if len(committed_after_stop) != fail_after:
        problems.append(f"stopped call committed {sorted(committed_after_stop)}"
                        f", expected {fail_after} buckets")
    rest = everything - committed_after_stop
    if sorted(resumed["processed"]) != sorted(rest):
        problems.append(f"resumed call processed {resumed['processed']}, "
                        f"expected {sorted(rest)}")
    if sorted(resumed["skipped"]) != sorted(committed_after_stop):
        problems.append(f"resumed call skipped {resumed['skipped']}, "
                        f"expected {sorted(committed_after_stop)}")
    if again["processed"]:
        problems.append(f"third call processed {again['processed']}, "
                        "expected none")
    if sorted(again["skipped"]) != sorted(everything):
        problems.append(f"third call skipped {again['skipped']}, expected all")
    return problems
