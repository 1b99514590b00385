"""One benchmark run: set-up, timed phases, output checks, metrics."""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager, nullcontext

import numpy as np

import layers
from gen import CYCLE, CorpusGen, QueryGen, assign_ids, with_store_cols
from oracle import Oracle, ranking_ok
from spans import JobCounter, Tracer
from workloads import WORKLOADS

FILTER = ("lang", "py")  # where= clause of the filtered queries


def du(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def cpu_times() -> list[int]:
    """Aggregate /proc/stat cpu counters (user nice system idle iowait
    irq softirq steal ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(np.ceil(q * len(s))) - 1))]


class Ops:
    """Attempted / failed operation counts; failures are logged to
    stderr (first few per kind) and never raised."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.by_kind: dict[str, list[int]] = {}
        self._lock = threading.Lock()

    def record(self, kind: str, ok: bool, detail: str = "") -> None:
        with self._lock:
            self.attempted += 1
            n = self.by_kind.setdefault(kind, [0, 0])
            n[0] += 1
            if not ok:
                self.failed += 1
                n[1] += 1
                if n[1] <= 3:
                    print(f"perfbench: {kind} failed: {detail}", file=sys.stderr)


class Run:
    def __init__(self, args, work: str, t_zero: float):
        self.args = args
        self.work = work
        self.t_zero = t_zero
        self.cfg = WORKLOADS[args.workload]
        self.sizes = self.cfg["sizes"]
        self.traced = bool(args.trace)
        self.tracer = Tracer(self.traced)
        self.ops = Ops()
        self.spark = None
        self.jobs = None
        self.props: dict = {}
        self.layer: dict[str, float] = {}
        self.samples: dict[str, list] = {}  # named timing samples
        self.lat: list[tuple[str, str, float]] = []  # (type, class, s)
        self.lat_probe: list[tuple[str, str, float]] = []
        self.reads_s = 0.0  # wall of the timed query phase(s)
        self.props["loadavg_start"] = os.getloadavg()[0]
        self.cpu0 = cpu_times()
        self.phase_s: dict[str, float] = {}  # wall of each run phase

    # ------------------------------------------------------------ util

    def sample(self, name: str, value) -> None:
        self.samples.setdefault(name, []).append(value)

    @contextmanager
    def timed(self, name: str, rid: str | None = None, count: bool = False):
        """Span + wall sample + (traced, sequential calls only) Spark
        job accounting under ``name``."""
        jc = self.jobs.count() if (count and self.jobs) else nullcontext(None)
        with self.tracer.span(name, rid=rid), jc as jobs:
            t0 = time.monotonic()
            try:
                yield
            finally:
                self.sample(name, time.monotonic() - t0)
        if jobs is not None:
            for k, v in jobs.items():
                self.sample(f"{name}.{k}", v)

    # ----------------------------------------------------------- phases

    @contextmanager
    def phase(self, name: str):
        t0 = time.monotonic()
        with self.tracer.span(name, rid=name):
            yield
        self.phase_s[name] = round(time.monotonic() - t0, 3)

    def execute(self) -> None:
        with self.phase("setup"):
            self.setup()
        self.setup_s = time.monotonic() - self.t_zero
        with self.phase("build"):
            self.build_phase()
        with self.phase("kernel_checks"):
            self.kernel_checks()
        with self.phase(self.args.workload):
            if self.args.workload == "serve":
                self.serve_phase()
            else:
                self.mutate_phase()
        if self.traced:
            with self.phase("layer_probes"):
                layers.probes(self)

    def setup(self) -> None:
        from gxdindexer_spark import schemas
        from gxdindexer_spark.session import get_spark
        from gxdindexer_spark.sources.tables import prepare_docs

        t0 = time.monotonic()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name="perfbench",
                extra_conf={
                    "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                    "spark.sql.warehouse.dir": os.path.join(self.work, "wh"),
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
                        " -XX:-UsePerfData"
                    ),
                },
            )
        self.layer["session.get_spark_s"] = time.monotonic() - t0
        if self.traced:
            self.jobs = JobCounter(self.spark)
        seed, sz = self.args.seed, self.sizes
        t0 = time.monotonic()
        self.gen = CorpusGen(seed, sz, self.args.workload)
        corpus = self.gen.docs(sz.n_docs)
        expected = assign_ids(corpus, sz.docs_per_shard)
        self.phase_s["setup.generate"] = time.monotonic() - t0
        t0 = time.monotonic()
        self.oracle = Oracle()
        for row in expected.to_dict("records"):
            self.oracle.add(int(row["doc_id"]), row)
        self.phase_s["setup.oracle"] = time.monotonic() - t0

        t0 = time.monotonic()
        with self.tracer.span("sources.prepare_docs"):
            self.docs = prepare_docs(
                self.spark.createDataFrame(corpus, schema=schemas.CORPUS),
                docs_per_shard=sz.docs_per_shard,
            )
        self.layer["sources.prepare_docs_s"] = time.monotonic() - t0
        self.expected_paths = dict(
            zip(expected["doc_id"].tolist(), expected["path"])
        )

        if self.args.workload == "mutate":
            self.script = self.make_script(self.cfg["append_docs"])
            # queries may target the appended vocabulary too
            app = self.script[0][1]
            for row in app.to_dict("records"):
                self.oracle.add(int(row["doc_id"]), row)
            self.qgen = QueryGen(seed, self.oracle, self.gen.head)
            for d in app["doc_id"].tolist():
                self.oracle.remove(int(d))
        else:
            self.qgen = QueryGen(seed, self.oracle, self.gen.head)
        src_bytes = sum(
            len(str(v).encode())
            for col in ("content", "path", "lang")
            for v in corpus[col]
        )
        self.source_bytes = src_bytes
        self.props.update(
            docs=sz.n_docs,
            shards=sz.n_docs // sz.docs_per_shard,
            source_bytes=src_bytes,
            vocab={f: len(self.oracle.post[f]) for f in Oracle.FIELDS},
            postings=self.total_postings(),
            local=f"local[{self.spark.sparkContext.defaultParallelism}]",
            query_bands={
                "rare": len(self.qgen.rare), "mid": len(self.qgen.mid),
                "wide": len(self.qgen.wide), "stop": len(self.qgen.stop),
            },
        )

    def total_postings(self) -> int:
        return sum(
            len(pl) for f in Oracle.FIELDS for pl in self.oracle.post[f].values()
        )

    def make_script(self, n_append: int) -> list[tuple[str, object]]:
        """Seeded commit script: append a new shard of docs with new
        vocabulary, delete across 2 shards, content update, compaction."""
        sz = self.sizes
        rng = np.random.default_rng([self.args.seed, 11])
        n, dps = sz.n_docs, sz.docs_per_shard
        shards = rng.permutation(n // dps)
        app = with_store_cols(self.gen.docs(n_append), n, dps)

        def ids_in(shard: int, k: int, taken=()) -> list[int]:
            pool = [
                d for d in range(shard * dps, (shard + 1) * dps) if d not in taken
            ]
            return sorted(int(x) for x in rng.choice(pool, size=k, replace=False))

        a, b, c = (shards[i % len(shards)] for i in range(3))
        dele = ids_in(a, 4) + ids_in(b, 4)
        content = {
            d: {"content": self.gen._content() + f" upd{self.args.seed}x{i}"}
            for i, d in enumerate(ids_in(c, 3, dele))
        }
        return [
            ("append", app), ("delete", dele), ("update_content", content),
            ("compact", None),
        ]

    def attr_update(self, rng, i: int) -> dict:
        """Attr-only payload: a new repo for 2 live docs of one shard."""
        dps = self.sizes.docs_per_shard
        shard = int(rng.integers(self.sizes.n_docs // dps))
        live = [
            d for d in range(shard * dps, (shard + 1) * dps) if d in self.oracle.docs
        ]
        return {
            int(d): {"repo": f"org9/moved{i}"}
            for d in rng.choice(live, 2, replace=False)
        }

    def build_phase(self) -> None:
        from gxdindexer_spark.operators.index_build import IndexBuilder

        sz = self.sizes
        self.idx = os.path.join(self.work, "index")
        self.builder = IndexBuilder(
            docs_per_shard=sz.docs_per_shard,
            with_positions=True,
        )
        try:
            with self.timed("index_build.build", rid="build", count=True):
                m = self.builder.build(self.docs, self.idx)
            ok = (
                m["shards_built"] == sz.n_docs // sz.docs_per_shard
                and m["n_docs"] == sz.n_docs
                and m["n_postings"] == self.total_postings()
            )
            self.ops.record("build", ok, str(m))
        except Exception as e:  # noqa: BLE001
            self.ops.record("build", False, repr(e))
            raise
        self.build_metrics = m
        self.index_bytes = du(self.idx)
        # the doc_id layout prepare_docs assigned, as the index stored it
        stored = layers.stored_paths(self.idx)
        self.ops.record(
            "prepare_docs", stored == self.expected_paths, "doc_id layout differs"
        )
        for i in range(5):  # reported as the median of five
            try:
                with self.timed("index_build.resume", rid=f"resume-{i}", count=True):
                    m2 = self.builder.build(self.docs, self.idx)
                self.ops.record("resume", m2["shards_built"] == 0, str(m2))
            except Exception as e:  # noqa: BLE001
                self.ops.record("resume", False, repr(e))
        self.open_engine()
        self.avgdl0 = dict(self.engine.avgdl)
        self.props["dictionary_rows"] = layers.dictionary_rows(self.idx)

    def open_engine(self) -> None:
        from gxdindexer_spark.operators.query import IndexQueryEngine

        with self.timed("query.engine_open", rid="open"):
            self.engine = IndexQueryEngine(self.spark, self.idx)

    # ---------------------------------------------------------- queries

    def run_query(self, q):
        """Execute one generated query; -> normalized rows."""
        e = self.engine
        t = q.qtype
        if t in ("bm25", "boolean", "wildcard", "fuzzy"):
            rows = e.topk(q.text, k=q.k).collect()
            return [(int(r["doc_id"]), float(r["score"])) for r in rows]
        if t == "filtered":
            rows = e.topk(q.text, k=q.k, where=f"{FILTER[0]} == '{FILTER[1]}'")
            return [(int(r["doc_id"]), float(r["score"])) for r in rows.collect()]
        if t == "phrase":
            rows = e.phrase_topk(q.text, k=q.k).collect()
            return [(int(r["doc_id"]), float(r["score"])) for r in rows]
        if t == "facet":
            rows = e.facet_counts_stored(q.text, by="repo").collect()
            return {r["repo"]: int(r["n_docs"]) for r in rows}
        if t in ("sorted", "export"):
            df = (
                e.sorted_matches(q.text, by="path", k=q.k)
                if t == "sorted"
                else e.export_matches(q.text, by="path")
            )
            return [(int(r["doc_id"]), r["path"]) for r in df.collect()]
        if t == "grouped":
            rows = e.grouped_topk(q.text, by="repo", k_groups=q.k).collect()
            return [
                (int(r["grp_rank"]), r["repo"], int(r["doc_id"]),
                 f"{r['score']:.6f}", int(r["rn"]))
                for r in rows
            ]
        if t == "highlight":
            rows = e.highlight_topk(q.text, k=q.k).collect()
            return [
                (int(r["doc_id"]), float(r["score"]), int(r["start_pos"]),
                 int(r["end_pos"]), int(r["n_hits"]))
                for r in rows
            ]
        raise ValueError(t)

    def check(self, q, rows) -> bool:
        """Compare one query's output with the oracle's answer."""
        o = self.oracle
        t = q.qtype
        if t == "phrase":
            s = o.phrase(q.text)
            return ranking_ok(s, rows, o.top(s, q.k))
        fields = ("content",) if t == "highlight" else Oracle.FIELDS
        s = o.scores(q.clauses, fields)
        if t == "filtered":
            s = {d: v for d, v in s.items() if o.attr(d, FILTER[0]) == FILTER[1]}
        if t in ("bm25", "boolean", "wildcard", "fuzzy", "filtered"):
            return ranking_ok(s, rows, o.top(s, q.k))
        if t == "facet":
            want: dict[str, int] = {}
            for d in s:
                r = o.attr(d, "repo")
                want[r] = want.get(r, 0) + 1
            return rows == want
        if t in ("sorted", "export"):
            want = sorted((o.attr(d, "path"), d) for d in s)
            if t == "sorted":
                want = want[: q.k]
            return rows == [(d, p) for p, d in want]
        if t == "grouped":
            heads: dict[str, tuple] = {}
            for d, v in s.items():
                r = o.attr(d, "repo")
                if r not in heads or (-v, d) < (-heads[r][1], heads[r][0]):
                    heads[r] = (d, v)
            ranked = sorted(heads.items(), key=lambda kv: (-kv[1][1], kv[1][0]))
            want = [
                (i + 1, r, d, f"{v:.6f}", 1)
                for i, (r, (d, v)) in enumerate(ranked[: q.k])
            ]
            return rows == want
        if t == "highlight":
            top = o.top(s, q.k)
            if not ranking_ok(s, [(d, v) for d, v, *_ in rows], top):
                return False
            terms = [p[1] for p in o.plan(q.clauses, ("content",))[0]]
            return all(
                (st, en, n) == o.window(d, terms, 16)
                for d, _v, st, en, n in rows
            )
        raise ValueError(t)

    def query_loop(self, pool, clients: int, rid: str,
                   seconds: float | None = None, count: int | None = None):
        """Closed loop: each client sends its next query when the
        previous one returns, until ``seconds`` have passed or
        ``count`` queries were sent. -> [(query, rows | None, error)]."""
        lock = threading.Lock()
        out: list = []
        deadline = time.monotonic() + (seconds if seconds is not None else 1e9)
        left = [count if count is not None else 1 << 62]

        def client(ci: int) -> None:
            n = 0
            while time.monotonic() < deadline:
                with lock:
                    if left[0] <= 0:
                        return
                    left[0] -= 1
                    q = next(pool)
                n += 1
                t0 = time.monotonic()
                rows, err = None, None
                try:
                    with self.tracer.span(
                        f"query.{q.qtype}", rid=f"{rid}-c{ci}-{n}",
                        qclass=q.qclass,
                    ):
                        rows = self.run_query(q)
                except Exception as e:  # noqa: BLE001
                    err = repr(e)
                dt = time.monotonic() - t0
                with lock:
                    self.lat.append((q.qtype, q.qclass, dt))
                    out.append((q, rows, err))

        t0 = time.monotonic()
        threads = [
            threading.Thread(target=client, args=(i,)) for i in range(clients)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        self.reads_s += time.monotonic() - t0
        return out

    def check_all(self, results) -> None:
        """Check each result (untimed) and note the postings it read."""
        for q, rows, err in results:
            ok = err is None and self.check(q, rows)
            self.ops.record(f"query.{q.qtype}", ok, err or f"mismatch: {q.text!r}")
            self.sample(f"postings.{q.qclass}", layers.query_postings(self.engine, q))

    # ----------------------------------------------------------- phases

    def serve_phase(self) -> None:
        # whole cycles only, so every run sends the same mix whatever
        # its speed; 4 x --seconds is a safety cap that ends it early
        cycles = max(1, round(self.args.seconds / self.cfg["seconds_per_cycle"]))
        res = self.query_loop(
            self.qgen.mix(), self.cfg["clients"], rid="serve",
            seconds=4 * self.args.seconds, count=cycles * len(CYCLE),
        )
        self.check_all(res)
        self.props["queries"] = len(res)
        self.props["cycles"] = len(res) / len(CYCLE)
        # stored-attribute commits (docvalues path), then a read-back check
        rng = np.random.default_rng([self.args.seed, 13])
        moved = {}
        for i in range(self.cfg["attr_commits"]):
            upd = self.attr_update(rng, i)
            self.commit("update_attrs", upd)
            self.apply("update_attrs", upd)
            moved.update(upd)
        self.open_engine()
        self.final_checks(sorted(moved))

    def commit(self, kind: str, payload):
        from gxdindexer_spark.operators import index_build as ib

        m, ok = None, False
        try:
            with self.timed(f"index_build.{kind}", rid=kind, count=True):
                if kind == "append":
                    df = self.spark.createDataFrame(
                        payload[self.docs.columns], schema=self.docs.schema
                    )
                    m = self.builder.build(df, self.idx, append=True)
                elif kind == "delete":
                    m = ib.delete_docs(
                        self.spark, self.idx, self.builder, payload,
                        assume_dense_shards=True,
                    )
                elif kind in ("update_content", "update_attrs"):
                    m = ib.update_docs(
                        self.spark, self.idx, self.builder, payload,
                        assume_dense_shards=True,
                    )
                elif kind == "compact":
                    m = ib.compact_index(self.spark, self.idx)
            self.sample("commit", self.samples[f"index_build.{kind}"][-1])
            touched = self._touched(kind, payload)
            if kind == "append":
                ok = m["shards_built"] == len(touched)
                rebuilt = m["shards_built"]
            elif kind == "delete":
                ok = m["docs_deleted"] == len(payload)
                rebuilt = m["shards_rebuilt"] + m["shards_dropped"]
            elif kind == "compact":
                ok, rebuilt = isinstance(m, dict), 0
            else:
                ok = m["docs_updated"] == len(payload)
                rebuilt = m["shards_rebuilt"]
            if touched:
                self.sample("shards_rebuilt_per_commit", rebuilt / len(touched))
        except Exception as e:  # noqa: BLE001
            m = repr(e)
        self.ops.record(f"commit.{kind}", ok, str(m))
        return m

    def apply(self, kind: str, payload) -> None:
        """Move the oracle to the state after one commit."""
        o = self.oracle
        if kind == "append":
            for row in payload.to_dict("records"):
                o.add(int(row["doc_id"]), row)
        elif kind == "delete":
            for d in payload:
                o.remove(d)
        elif kind in ("update_content", "update_attrs"):
            for d, ch in payload.items():
                o.update(d, ch)

    def _touched(self, kind: str, payload) -> set[int]:
        """Shards a commit's payload names."""
        dps = self.sizes.docs_per_shard
        if kind == "append":
            return set((payload["doc_id"] // dps).tolist())
        return {d // dps for d in payload or ()}

    def mutate_phase(self) -> None:
        """The commit script with readers in lockstep: after each
        commit the engine is reopened and the readers run a fixed
        number of selective queries, checked against the oracle at
        that snapshot."""
        pool = self.qgen.mix(classes=("selective",))
        reads = self.cfg["reads_per_snapshot"]
        for kind, payload in self.script:
            self.commit(kind, payload)
            self.apply(kind, payload)
            self.open_engine()
            res = self.query_loop(
                pool, self.cfg["clients"], rid=f"read-{kind}", count=reads
            )
            self.check_all(res)
        self.props["queries"] = len(self.lat)
        self.final_checks(sorted(set(self.script[1][1]) | set(self.script[2][1])))

    def final_checks(self, ids: list[int]) -> None:
        """State after the last commit: stored fields of every touched
        doc (deleted ones absent) and the match count of a broad term."""
        o = self.oracle
        try:
            rows = self.engine.get_docs(ids, columns=("repo", "content")).collect()
            got = {int(r["doc_id"]): (r["repo"], r["content"]) for r in rows}
            want = {
                d: (o.attr(d, "repo"), o.attr(d, "content"))
                for d in ids
                if d in o.docs
            }
            self.ops.record("final.get_docs", got == want, "stored fields differ")
        except Exception as e:  # noqa: BLE001
            self.ops.record("final.get_docs", False, repr(e))
        term = self.qgen.stop[0]
        try:
            n = self.engine.count_matches(term).collect()[0]["n_matches"]
            want = len(o.scores([("should", term, "", 0)]))
            self.ops.record("final.count", n == want, f"{n} != {want}")
        except Exception as e:  # noqa: BLE001
            self.ops.record("final.count", False, repr(e))

    def kernel_checks(self) -> None:
        """WAND == TAAT == oracle on the freshly built index's own
        postings, run in-process on a few bm25 queries (untimed)."""
        for q in [
            self.qgen.one("bm25", c)
            for c in ("selective", "broad")
            for _ in range(3)
        ]:
            try:
                r = layers.local_topk(self.engine, q.text, q.k)
                s = self.oracle.scores(q.clauses)
                top = self.oracle.top(s, q.k)
                ok = ranking_ok(s, r["wand"], top) and ranking_ok(s, r["taat"], top)
                self.ops.record(
                    "wand_eq_taat", ok,
                    f"{q.text!r} wand={r['wand']} taat={r['taat']} oracle={top}",
                )
            except Exception as e:  # noqa: BLE001
                self.ops.record("wand_eq_taat", False, repr(e))

    # ---------------------------------------------------------- metrics

    def metrics(self, rss_mb: float) -> dict:
        lat = [s for _t, _c, s in self.lat]
        if not lat or not self.samples.get("commit"):
            raise RuntimeError("no successful queries or commits to report")
        build_s = self.samples["index_build.build"][0]
        cpu = [b - a for a, b in zip(self.cpu0, cpu_times())]
        self.props.update(
            loadavg_end=os.getloadavg()[0],
            # share of CPU time the hypervisor gave other guests
            steal_share=round(cpu[7] / max(sum(cpu), 1), 4),
            query_samples=len(lat),
            class_share={
                c: sum(1 for _t, cc, _s in self.lat if cc == c) / len(lat)
                for c in ("selective", "broad")
            },
            postings_per_query={
                c: statistics.median(self.samples[f"postings.{c}"])
                for c in ("selective", "broad")
                if self.samples.get(f"postings.{c}")
            },
            commits=len(self.samples["commit"]),
            phase_s=self.phase_s,
            failed_by_kind={k: f for k, (_a, f) in self.ops.by_kind.items() if f},
        )
        s = "s"
        out = {
            "setup_s": (self.setup_s, s),
            "op_error_ratio": (self.ops.failed / self.ops.attempted, "ratio"),
            "query_p50_s": (percentile(lat, 0.5), s),
            "query_p90_s": (percentile(lat, 0.9), s),
            "query_qps": (len(lat) / self.reads_s, "1/s"),
            "build_docs_per_s": (self.sizes.n_docs / build_s, "docs/s"),
            "resume_noop_s": (
                statistics.median(self.samples["index_build.resume"]), s
            ),
            "index_bytes_per_source_byte": (
                self.index_bytes / self.source_bytes, "ratio"
            ),
            "commit_p50_s": (statistics.median(self.samples["commit"]), s),
            "driver_rss_peak_mb": (rss_mb, "MB"),
        }
        if self.traced:
            out = layers.per_layer(self, out)
        return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}
