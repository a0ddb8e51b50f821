"""Correctness gates, run after the timed window of every run.

Each gate is one attempted operation; a failed gate counts as a failed
operation and makes the run's ``correct`` false. The expected values come
from an independent LWW oracle computed in Python (pyarrow) straight from
the change log, so the gates share no code with the engine:

* final state == the oracle over the valid envelopes of every applied
  epoch: the max seq per ``doc_id`` wins, deletes drop the key. Compared
  row by row on (doc_id, tokens, n_tok, source), which includes the
  token-array-equality invariant and the engine's n_tok == size(tokens)
  repair;
* the same log, replayed to the same epoch, gives the same state
  fingerprint in every run (kept under ``.perfbench_cache/``, so the
  ingest pair checks each other across parallelism);
* the maintained aggregate equals a recompute from the oracle;
* index lookups equal a filter on the oracle;
* every ``lookup`` returned the oracle's row for its key after the
  epochs applied when it ran;
* the exporter published one span per refresh.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import SOURCES

ROW_COLS = ("doc_id", "tokens", "n_tok", "source")
VALID_OPS = ("insert", "update", "delete")


def _row(doc_id, tokens, n_tok, source) -> tuple:
    return (doc_id, tuple(tokens) if tokens is not None else None,
            None if n_tok is None else int(n_tok), source)


def read_events(batch_dirs: list[str]) -> pa.Table:
    """Every event of the given batch dirs with its position in the log
    (``_epoch``), read straight from the parquet files."""
    parts = []
    for i, d in enumerate(batch_dirs):
        t = pq.read_table(d, columns=["op", "doc_id", "seq", "tokens", "source"])
        t = t.set_column(3, "tokens", t.column("tokens").cast(pa.list_(pa.int64())))
        parts.append(t.append_column("_epoch", pa.array([i] * t.num_rows, pa.int32())))
    return pa.concat_tables(parts)


def lww_oracle(events: pa.Table) -> dict[str, tuple]:
    """doc_id -> expected row: the valid envelope with the highest seq
    wins, a winning delete drops the key."""
    n = pc.list_value_length(events.column("tokens"))
    valid = pc.and_(
        pc.and_(pc.is_valid(events.column("doc_id")),
                pc.greater_equal(events.column("seq"), 0)),
        pc.and_(
            pc.is_in(events.column("op"), value_set=pa.array(VALID_OPS)),
            pc.or_(pc.equal(events.column("op"), "delete"),
                   pc.fill_null(pc.greater(n, 0), False)),
        ),
    )
    ev = events.filter(valid).sort_by([("doc_id", "ascending"), ("seq", "descending")])
    doc = ev.column("doc_id").combine_chunks()
    if len(doc) == 0:
        return {}
    # the first row of each doc_id in (doc_id, seq desc) order wins
    first = pa.concat_arrays([
        pa.array([True]), pc.not_equal(doc.slice(1), doc.slice(0, len(doc) - 1))])
    win = ev.filter(first)
    win = win.filter(pc.not_equal(win.column("op"), "delete"))
    return {
        d: _row(d, t, len(t), s)
        for d, t, s in zip(win.column("doc_id").to_pylist(),
                           win.column("tokens").to_pylist(),
                           win.column("source").to_pylist())
    }


def state_rows(table_arrow: pa.Table) -> dict[str, tuple]:
    cols = [table_arrow.column(c).to_pylist() for c in ROW_COLS]
    return {r[0]: _row(*r) for r in zip(*cols)}


def fingerprint(rows: dict[str, tuple]) -> str:
    h = hashlib.sha1()
    for k in sorted(rows):
        h.update(repr(rows[k]).encode())
    return f"{len(rows)}:{h.hexdigest()}"


class Gates:
    def __init__(self, run, views, fingerprint_file: str):
        self.run = run
        self.agg, self.idx, self.cdf = (v.view for v in views)
        self.fingerprint_file = fingerprint_file
        self.attempted = 0
        self.failed = 0

    def _gate(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"GATE FAILED {name}: {detail}", file=sys.stderr)

    def _reproducible(self, key: str, fp: str) -> None:
        known = {}
        if os.path.exists(self.fingerprint_file):
            with open(self.fingerprint_file) as f:
                known = json.load(f)
        if key in known:
            self._gate("reproducible", known[key] == fp,
                       f"this run {fp}, earlier run {known[key]}")
            return
        known[key] = fp
        os.makedirs(os.path.dirname(self.fingerprint_file), exist_ok=True)
        tmp = self.fingerprint_file + f".{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(known, f)
        os.replace(tmp, self.fingerprint_file)

    def run_all(self, table, batch_dirs: list[str], final_rows: int, log_key: str) -> None:
        events = read_events(batch_dirs)
        want = lww_oracle(events)
        got = state_rows(table.state().select(*ROW_COLS).toArrow())
        diff = {k for k in want.keys() | got.keys() if want.get(k) != got.get(k)}
        self._gate("lww_oracle", not diff and len(got) == final_rows,
                   f"{len(diff)} keys differ (e.g. {sorted(diff)[:3]}), "
                   f"engine {len(got)} rows (count {final_rows}), oracle {len(want)}")
        self._reproducible(f"{log_key}/{len(batch_dirs)}", fingerprint(got))

        recompute: dict[str, list[int]] = {}
        for _, _, n_tok, source in want.values():
            acc = recompute.setdefault(source, [0, 0])
            acc[0] += 1
            acc[1] += n_tok
        agg = {r["source"]: [r["cnt"], r["n_tok"]]
               for r in self.agg.result().select("source", "cnt", "n_tok").collect()}
        self._gate("aggregate", agg == recompute, f"view {agg}, recompute {recompute}")

        indexed = {tuple(r) for r in self.idx.lookup(list(SOURCES)).select(
            "source", "doc_id").collect()}
        filtered = {(r[3], r[0]) for r in want.values() if r[3] is not None}
        self._gate("index", indexed == filtered,
                   f"{len(indexed ^ filtered)} (source, doc_id) pairs differ")

        # each probe against the oracle over the epochs applied when it ran
        keys = sorted({k for _, k, _ in self.run.lookup_log})
        probed = events.filter(pc.is_in(events.column("doc_id"), value_set=pa.array(keys)))
        bad = 0
        for applied, key, rows in self.run.lookup_log:
            ev = probed.filter(pc.and_(pc.equal(probed.column("doc_id"), key),
                                       pc.less(probed.column("_epoch"), applied)))
            expect = lww_oracle(ev).get(key)
            seen = [_row(*(r[c] for c in ROW_COLS)) for r in rows]
            bad += seen != ([expect] if expect else [])
        self._gate("lookup", bad == 0,
                   f"{bad} of {len(self.run.lookup_log)} lookups differ from the oracle")

        spans = [d for d in os.listdir(self.cdf.dest) if d.startswith("span=")]
        self._gate("exporter", len(spans) == self.run.refreshes,
                   f"{len(spans)} spans for {self.run.refreshes} refreshes")
