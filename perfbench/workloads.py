"""The benchmark's workloads: each is a fixed list of operations per
pass, run closed-loop by one client thread, with every output checked.

* ``lake_small`` — uploads of small seeded detection documents through
  ``Engine.process_document`` (all 11 domains, plus one malformed and one
  empty document per pass), each followed by the dashboard read a user
  would make next.
* ``query_iterative`` — seven job-bound registry rows through the noop
  sink, on seeded tables.
"""

from __future__ import annotations

import os
import random
import re
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass

from docs import DOMAINS, TOTALS_VIEW, Doc, Expect, make_doc, rows_match


@dataclass
class Op:
    kind: str  # upload | dashboard | query
    name: str  # domain or query name
    seconds: float
    ok: bool
    root: object = None  # the operation's root span when traced
    silver_rows: int = 0
    gold_rows: int = 0
    raw_bytes: int = 0
    stored_bytes: int = 0
    status: int = 0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _report(what: str) -> None:
    print(f"perfbench: {what} failed", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


class LakeSmall:
    """Small-document uploads with dashboard reads."""

    name = "lake_small"
    #: document size (frames, objects per frame) and quirk share; sizes are
    #: fixed so that seeds vary the values, not the amount of work
    FRAMES, OBJECTS, QUIRK = 20, 5, 0.1
    ZONES = ("silver", "processed", "gold", "refine", "split", "index")

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        from datalake_backend_spark.engine import Engine
        from datalake_backend_spark.serving.views import VIEW_SOURCES

        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.engine = Engine(spark)
        self.lake = os.path.join(work, "lake")
        self.doc_dir = os.path.join(work, "docs")
        os.makedirs(self.doc_dir)
        self.views = {d: [v for v, src in VIEW_SOURCES.items() if src == f"gold_{d}"]
                      for d in DOMAINS}
        self.shown: dict[str, Expect] = {}  # what each gold_<domain> view holds now
        self.n_docs = 0
        self.inputs: dict[str, int] = {}
        self.warm: list[Op] = []  # warm-up operations, checked like timed ones

    def _doc(self, r: random.Random, domain: str, kind: str = "ok") -> tuple[Doc, str]:
        doc = make_doc(r, domain, self.FRAMES, self.OBJECTS, self.QUIRK, kind)
        # a fresh path per upload: the bronze cache is keyed by the scan plan
        path = os.path.join(self.doc_dir, f"{self.n_docs:04d}_{domain}.json")
        self.n_docs += 1
        with open(path, "w") as f:
            f.write(doc.text)
        return doc, path

    def make_pass(self, index: int) -> list[tuple[Doc, str]]:
        """One document per domain in a seeded order, plus one malformed
        and one empty document, each at a seeded place after the upload
        of its own domain. Which domains get those two rotates with the
        pass index, so every seed does the same amount of work."""
        r = random.Random(f"{self.seed}/lake/{index}")
        order = list(DOMAINS)
        r.shuffle(order)
        plan = [(d, "ok") for d in order]
        for kind, shift in (("malformed", 0), ("empty", len(DOMAINS) // 2)):
            domain = DOMAINS[(index + shift) % len(DOMAINS)]
            at = r.randint(plan.index((domain, "ok")) + 1, len(plan))
            plan.insert(at, (domain, kind))
        docs = [self._doc(r, d, k) for d, k in plan]
        self.inputs = {
            "docs_per_pass": len(docs),
            "raw_bytes_per_pass": sum(len(d.text) for d, _ in docs),
            "detections_per_pass": sum(d.expect.silver_rows for d, _ in docs),
        }
        return docs

    def setup(self) -> None:
        """Warm-up: one valid ``common`` upload and its dashboard read,
        which pay the JVM's first-run cost for the bronze read, every
        zone write but the split and the serving views; the first upload of each domain in the pass still
        compiles that domain's plans. A full warm pass would add half a
        minute to every run."""
        r = random.Random(f"{self.seed}/lake/warm")
        self.warm = [self._upload(*self._doc(r, "common")), self._dashboard("common")]
        self.shown.clear()

    def run_pass(self, index: int) -> list[Op]:
        ops = []
        for doc, path in self.make_pass(index):
            ops.append(self._upload(doc, path))
            ops.append(self._dashboard(doc.domain))
        return ops

    def _upload(self, doc: Doc, path: str) -> Op:
        tracer, want = self.tracer, doc.expect
        op = Op("upload", doc.domain, 0.0, False, raw_bytes=len(doc.text))
        try:
            with tracer.operation("op.upload", doc.domain) as root:
                t0 = time.perf_counter()
                res = self.engine.process_document(path, doc.domain, self.lake,
                                                   export_index=True)
                op.seconds = time.perf_counter() - t0
            op.root, op.status = root, res.status
            op.silver_rows, op.gold_rows = res.silver_rows, res.gold_rows
            op.ok = (res.status, res.silver_rows, res.gold_rows, res.corrupt_docs) == (
                want.status, want.silver_rows, want.gold_rows, int(doc.kind == "malformed"))
            if res.status == 1:
                self.shown[doc.domain] = want
                op.stored_bytes = sum(_dir_bytes(os.path.join(self.lake, z, doc.domain))
                                      for z in self.ZONES)
        except Exception:  # noqa: BLE001 — one failed upload must not end the run
            _report(f"upload of {path}")
        return op

    def _dashboard(self, domain: str) -> Op:
        tracer, eng = self.tracer, self.engine
        totals_view, key_col = TOTALS_VIEW[domain]
        op = Op("dashboard", domain, 0.0, False)
        try:
            want = self.shown[domain]
            with tracer.operation("op.dashboard", domain) as root:
                t0 = time.perf_counter()
                with tracer.span("serving.refresh"):
                    created = eng.refresh_serving_views()
                with tracer.span("serving.views"):
                    shown = {v: self.spark.table(v).collect() for v in self.views[domain]}
                with tracer.span("serving.lookup"):
                    hits = eng.query_gold(domain, [(key_col, "=", want.lookup)]).collect()
                op.seconds = time.perf_counter() - t0
            op.root = root
            op.ok = (set(self.views[domain]) <= set(created) and len(hits) == 1
                     and rows_match([tuple(r) for r in shown[totals_view]], want.totals))
        except Exception:  # noqa: BLE001
            _report(f"dashboard read of {domain}")
        return op

    def check(self) -> tuple[int, int]:
        """(checks, mismatches) beyond the timed operations: the warm-up's."""
        return len(self.warm), sum(not op.ok for op in self.warm)


#: job-bound registry rows (ROADMAP items 3 and 4). r201 and q126 run the
#: same minhash + connected-components kernel as r76 and are left out to
#: keep a run near a minute.
ITERATIVE_ROWS = (
    "q178_entity_resolution", "r76_dedup_clusters", "q145_pagerank",
    "r170_personalized_pagerank", "q147_bfs_hops", "r206_bounded_sssp",
    "r187_kcore",
)


def _row_key(row) -> tuple:
    """Value normalization of ``tools/check_oracle.py``: repr of every field."""
    return tuple(repr(v) for v in row)


class QueryIterative:
    """Job-bound registry rows at a small scale factor."""

    name = "query_iterative"
    SF = 0.001
    ROWS = ITERATIVE_ROWS

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        from datalake_backend_spark.queries import QUERIES

        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.specs = {q: QUERIES[q] for q in self.ROWS}
        self.sf_dir = os.path.join(work, f"sf{self.SF}")
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}
        self.inputs: dict[str, int] = {}

    def setup(self) -> None:
        """Tables, the shared co-purchase edge table, and one untimed pass
        whose collected rows are compared with the oracles after timing."""
        import tables
        from datalake_backend_spark.engine import copurchase_edges

        self.inputs = tables.generate(self.SF, self.sf_dir, self.seed)
        copurchase_edges(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
        for q, spec in self.specs.items():
            try:
                df = spec.fn(self.spark, self.sf_dir)
                cols = sorted(df.columns)
                self.results[q] = (cols, [_row_key([r[c] for c in cols]) for r in df.collect()])
            except Exception:  # noqa: BLE001 — a failing row is counted by check()
                _report(f"warm run of {q}")

    def run_pass(self, index: int) -> list[Op]:
        """Every row once, in a seeded order."""
        order = list(self.ROWS)
        random.Random(f"{self.seed}/query/{index}").shuffle(order)
        return [self._query(q) for q in order]

    def _query(self, q: str) -> Op:
        tracer = self.tracer
        op = Op("query", q, 0.0, False)
        try:
            with tracer.operation("op.query", q) as root:
                t0 = time.perf_counter()
                with tracer.span("queries.build"):
                    df = self.specs[q].fn(self.spark, self.sf_dir)
                with tracer.span("queries.execute"):
                    df.write.format("noop").mode("overwrite").save()
                op.seconds = time.perf_counter() - t0
            op.root, op.ok = root, True
        except Exception:  # noqa: BLE001
            _report(f"query {q}")
        return op

    def check(self) -> tuple[int, int]:
        """Compare every row's warm-run output with its DuckDB oracle
        (row count, column names, value multiset); return (checks,
        mismatches)."""
        import duckdb

        con = duckdb.connect()
        for t in self.inputs:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.sf_dir, t)}.parquet'")
        bad = 0
        for q, spec in self.specs.items():
            if q not in self.results:
                bad += 1
                continue
            cols, got = self.results[q]
            try:
                rel = con.sql(spec.oracle)
                unsafe = [t for t in map(str, rel.types) if "HUGEINT" in t.upper() or (
                    (m := re.match(r"DECIMAL\((\d+)", t.upper())) and int(m.group(1)) > 18)]
                same_cols = sorted(rel.columns) == cols
                idx = [rel.columns.index(c) for c in cols] if same_cols else []
                want = [_row_key([row[i] for i in idx]) for row in rel.fetchall()]
            except duckdb.Error:
                _report(f"oracle of {q}")
                unsafe, same_cols = True, False
            if unsafe or not same_cols or Counter(got) != Counter(want):
                print(f"perfbench: {q} differs from its oracle", file=sys.stderr)
                bad += 1
        con.close()
        return len(self.specs), bad


WORKLOADS = {w.name: w for w in (LakeSmall, QueryIterative)}
