"""Per-layer measurements for traced runs, taken from outside the
program: each number comes from calling one module's public functions
from here (in-process for the pure-numpy layers, through Spark with a
noop sink for the build stages)."""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from gen import QUERY_TYPES
from oracle import Oracle

TOPK_TYPES = ("bm25", "boolean", "wildcard", "fuzzy")


def dictionary_rows(idx: str) -> int:
    import pyarrow.dataset as ds

    return ds.dataset(f"{idx}/dictionary", format="parquet").count_rows()


def stored_paths(idx: str) -> dict[int, str]:
    import pyarrow.dataset as ds

    t = ds.dataset(f"{idx}/docs", format="parquet", partitioning="hive")
    t = t.to_table(columns=["doc_id", "path"])
    return dict(zip(t["doc_id"].to_pylist(), t["path"].to_pylist()))


def _postings(index_dir: str, keys) -> pd.DataFrame:
    """The pruned postings scan of a query, read with pyarrow."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    tids = sorted({int(t) for _f, t in keys})
    flds = sorted({f for f, _t in keys})
    dset = ds.dataset(
        f"{index_dir}/postings", format="parquet", partitioning="hive"
    )
    flt = pc.field("term_id").isin(tids) & pc.field("field").isin(flds)
    return dset.to_table(filter=flt).to_pandas()


def _spec_keys(spec) -> set:
    return (
        set(spec.term_weights)
        | {m for g in spec.must_groups for m in g}
        | set(spec.must_not)
    )


def local_topk(engine, text: str, k: int) -> dict:
    """make_spec -> pyarrow postings read -> per-shard wand and taat
    kernels -> merged top-k, each step timed."""
    from gxdindexer_spark.operators import wand as wand_mod

    t0 = time.perf_counter()
    spec = engine.make_spec(text)
    t1 = time.perf_counter()
    pg = _postings(engine.index_dir, _spec_keys(spec))
    t2 = time.perf_counter()
    prunable = engine.blockmax_safe and not spec.is_boolean
    out = {
        "make_spec_ms": (t1 - t0) * 1e3,
        "read_ms": (t2 - t1) * 1e3,
        "rows": len(pg),
        "prunable": prunable,
    }
    for name, fn in (("wand", wand_mod.wand), ("taat", wand_mod.taat)):
        if name == "wand" and not prunable:
            continue
        t = time.perf_counter()
        parts = [fn(g, spec, k) for _s, g in pg.groupby("shard")]
        out[f"{name}_ms"] = (time.perf_counter() - t) * 1e3
        hits = sorted(
            ((int(d), float(s)) for ids, sc in parts for d, s in zip(ids, sc)),
            key=lambda h: (-h[1], h[0]),
        )
        out[name] = hits[:k]
    if not prunable:
        out["wand"], out["wand_ms"] = out["taat"], out["taat_ms"]
    return out


def query_postings(engine, q) -> int:
    """Postings (sum of df over the pruned posting rows) a query reads."""
    if q.qtype == "phrase":
        keys = {("content", engine._tid(t)) for t in q.text.split()}
    else:
        keys = _spec_keys(engine.make_spec(q.text))
    return int(_postings(engine.index_dir, keys)["df"].sum()) if keys else 0


def _rate(fn, min_s: float = 0.3) -> float:
    """Units per second of ``fn() -> units``, repeated for >= min_s."""
    n, t0 = 0, time.perf_counter()
    while True:
        n += fn()
        el = time.perf_counter() - t0
        if el >= min_s:
            return n / el


def _sample_frame(run, n: int = 300) -> pd.DataFrame:
    o = run.oracle
    ids = sorted(o.docs)[:n]
    return pd.DataFrame(
        {
            "doc_id": ids,
            **{f: [o.docs[d][f] for d in ids] for f in Oracle.FIELDS},
        }
    )


def analyze_probe(run) -> float:
    from gxdindexer_spark.functions import analyze

    df = _sample_frame(run)
    fields = run.builder.fields

    def once() -> int:
        return sum(
            int(analyze.term_freqs_positions(df["doc_id"], df[f], tok)["tf"].sum())
            for f, tok in fields.items()
        )

    return _rate(once)


def codec_encode_probe(run) -> float:
    from gxdindexer_spark.functions import analyze, bm25, codec

    df = _sample_frame(run)
    tf = analyze.term_freqs_positions(df["doc_id"], df["content"], "code")
    avg = float(tf.drop_duplicates("doc_id")["dl"].mean())
    groups = [
        (
            g["doc_id"].to_numpy(np.int64),
            g["tf"].to_numpy(np.uint64),
            g["dl"].to_numpy(np.uint64),
            list(g["positions"]),
        )
        for _t, g in tf.sort_values(["term", "doc_id"]).groupby("term")
    ]

    def once() -> int:
        for ids, tfs, dls, pos in groups:
            tfn = bm25.tf_norm(tfs, dls.astype(np.float64), avg)
            codec.encode_postings(ids, tfs, tfn, dls=dls, positions=pos)
        return len(tf)

    return _rate(once)


def codec_decode_probe(run) -> tuple[float, float]:
    """-> (postings decoded per second, stored bytes per posting) over
    the whole postings artifact, read with pyarrow."""
    import pyarrow.dataset as ds

    from gxdindexer_spark.functions import codec

    tbl = ds.dataset(
        f"{run.idx}/postings", format="parquet", partitioning="hive"
    ).to_table()
    rows = tbl.to_pandas().to_dict("records")
    total_df = sum(int(r["df"]) for r in rows)
    nbytes = sum(
        len(r["docs_buf"]) + len(r["tfs_buf"]) + len(r["dls_buf"])
        + len(r["pos_buf"] or b"")
        for r in rows
    )
    pls = [codec.posting_list_from_row(str(r["term_id"]), r) for r in rows]

    def once() -> int:
        for pl in pls:
            _d, tfs, _l = pl.decode_all()
            if pl.pos_offsets is not None and len(pl.pos_buf):
                pl.decode_positions_flat(counts=tfs)
        return total_df

    return _rate(once), nbytes / max(total_df, 1)


def build_stage_probe(run) -> tuple[float, float]:
    """tokenize and postings stages of the build, each into a noop
    sink (the postings stage reads a cached tokenize output)."""
    from gxdindexer_spark.operators.index_build import term_freqs_df

    b = run.builder
    tf = term_freqs_df(run.docs, b.fields, with_positions=b.with_positions)
    t0 = time.monotonic()
    with run.tracer.span("index_build.tokenize_noop"):
        tf.write.format("noop").mode("overwrite").save()
    tok_s = time.monotonic() - t0
    cached = tf.persist()
    cached.count()
    try:
        t0 = time.monotonic()
        with run.tracer.span("index_build.postings_noop"):
            b.postings_df(cached, run.avgdl0).write.format("noop").mode(
                "overwrite"
            ).save()
        post_s = time.monotonic() - t0
    finally:
        cached.unpersist()
    return tok_s, post_s


def query_battery(run) -> None:
    """Every query type, sequentially, with Spark job accounting and
    (top-k types) the spec / read / kernel / dispatch breakdown."""
    for i, q in enumerate(run.qgen.battery()):
        rows, err = None, None
        with run.jobs.count() as jobs:
            t0 = time.monotonic()
            try:
                with run.tracer.span(
                    f"query.{q.qtype}", rid=f"probe-{i}", qclass=q.qclass
                ):
                    rows = run.run_query(q)
            except Exception as e:  # noqa: BLE001
                err = repr(e)
            wall = time.monotonic() - t0
        run.lat_probe.append((q.qtype, q.qclass, wall))
        run.ops.record(
            f"probe.{q.qtype}",
            err is None and run.check(q, rows),
            err or f"mismatch: {q.text!r}",
        )
        run.sample("query.jobs", jobs["jobs"])
        run.sample("query.tasks", jobs["tasks"])
        run.sample(f"rows.{q.qclass}", query_postings(run.engine, q))
        if q.qtype in TOPK_TYPES:
            r = local_topk(run.engine, q.text, q.k)
            kern = r["wand_ms"]
            run.sample("make_spec_ms", r["make_spec_ms"])
            run.sample("kernel_ms", kern)
            run.sample("kernel_share", kern / 1e3 / wall)
            run.sample(
                "dispatch_ms",
                wall * 1e3 - r["make_spec_ms"] - r["read_ms"] - kern,
            )


def probes(run) -> None:
    run.layer["analyze.tokens_per_s"] = analyze_probe(run)
    run.layer["codec.encode_postings_per_s"] = codec_encode_probe(run)
    dec, bpp = codec_decode_probe(run)
    run.layer["codec.decode_postings_per_s"] = dec
    run.layer["codec.bytes_per_posting"] = bpp
    tok_s, post_s = build_stage_probe(run)
    run.layer["index_build.tokenize_s"] = tok_s
    run.layer["index_build.postings_s"] = post_s
    query_battery(run)
    # every commit kind the workload's own phase did not run, so each
    # is reported on both workloads
    todo = [(k, p) for k, p in run.make_script(80)]
    todo.append(("update_attrs", run.attr_update(np.random.default_rng(0), 9)))
    for kind, payload in todo:
        if f"index_build.{kind}" not in run.samples:
            run.commit(kind, payload)
            run.apply(kind, payload)


def per_layer(run, e2e: dict) -> dict:
    S = run.samples
    med = statistics.median
    build_s = S["index_build.build"][0]
    out = {
        "session.get_spark_s": (run.layer["session.get_spark_s"], "s"),
        "sources.prepare_docs_s": (run.layer["sources.prepare_docs_s"], "s"),
        "analyze.tokens_per_s": (run.layer["analyze.tokens_per_s"], "1/s"),
        "codec.encode_postings_per_s": (
            run.layer["codec.encode_postings_per_s"], "1/s"),
        "codec.decode_postings_per_s": (
            run.layer["codec.decode_postings_per_s"], "1/s"),
        "codec.bytes_per_posting": (run.layer["codec.bytes_per_posting"], "bytes"),
        "index_build.tokenize_s": (run.layer["index_build.tokenize_s"], "s"),
        "index_build.postings_s": (run.layer["index_build.postings_s"], "s"),
        "index_build.build_s": (build_s, "s"),
        "index_build.commit_tail_s": (
            build_s - run.layer["index_build.tokenize_s"]
            - run.layer["index_build.postings_s"], "s"),
        "index_build.dictionary_rows": (run.props["dictionary_rows"], "count"),
        "index_build.postings": (run.build_metrics["n_postings"], "count"),
        "index_build.spark_jobs_per_build": (S["index_build.build.jobs"][0], "count"),
        "index_build.spark_stages_per_build": (
            S["index_build.build.stages"][0], "count"),
    }
    for kind in ("append", "delete", "update_content", "update_attrs", "compact"):
        out[f"index_build.{kind}_s"] = (med(S[f"index_build.{kind}"]), "s")
    out["index_build.shards_rebuilt_per_commit"] = (
        statistics.mean(S["shards_rebuilt_per_commit"]), "ratio")
    commit_jobs = [
        v for k, vs in S.items()
        if k.endswith(".jobs") and k.split(".")[1] in (
            "append", "delete", "update_content", "update_attrs", "compact")
        for v in vs
    ]
    out["index_build.spark_jobs_per_commit"] = (med(commit_jobs), "count")
    out["query.engine_open_s"] = (med(S["query.engine_open"]), "s")
    out["query.make_spec_ms"] = (med(S["make_spec_ms"]), "ms")
    for c in ("selective", "broad"):
        out[f"query.posting_rows_per_query.{c}"] = (med(S[f"rows.{c}"]), "count")
    out["query.spark_jobs_per_query"] = (med(S["query.jobs"]), "count")
    out["query.spark_tasks_per_query"] = (med(S["query.tasks"]), "count")
    out["query.dispatch_ms"] = (med(S["dispatch_ms"]), "ms")
    lat = run.lat + run.lat_probe
    for t in QUERY_TYPES:
        out[f"query.{t}_p50_s"] = (med([s for tt, _c, s in lat if tt == t]), "s")
    out["wand.kernel_ms"] = (med(S["kernel_ms"]), "ms")
    out["wand.kernel_share"] = (med(S["kernel_share"]), "ratio")
    out["trace.query_p50_s"] = (e2e["query_p50_s"][0], "s")
    return out
