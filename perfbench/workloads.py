"""The three workloads.  Each one generates its inputs from the seed, sets
up the session, pre-builds what it needs outside the timed region, runs its
closed loop (or, traced, one untraced and one traced call), and checks the
engine's outputs against the by-construction goldens."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
from contextlib import nullcontext

from gen import SHACL_HASVALUE, SHACL_QUALIFIED, SHACL_XONE, Corpus, write_docs
from spans import FIELDS, LAYERS, Tracer, fold, latest_event_log

from rdfshape_api_spark.fixtures import generator as G

N_DOCS = 1000  # base corpus; at seed 42 it is fixtures/rdf_sf0.001 row for row
N_DELTAS = 3  # deltas per delta_merge cycle
DELTA_DOCS = 10  # 1% of the base corpus per delta
SENSOR_LABELS = ("shex_sensor", "shacl_sensor")
REVALIDATE_LABELS = SENSOR_LABELS + ("shacl_qualified", "shacl_xone", "shacl_hasvalue")
KEY_COLS = ("doc_sha256", "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype")


# --------------------------------------------------------------------------
# output readers and checks (in-process pyarrow, no Spark jobs)
# --------------------------------------------------------------------------

def store_rows(path: str) -> list[tuple]:
    import pyarrow.dataset as pads

    tbl = pads.dataset(path, format="parquet", partitioning="hive").to_table(columns=list(KEY_COLS))
    cols = [tbl.column(c).to_pylist() for c in KEY_COLS]
    return list(zip(*cols))


def verdict_rows(path: str) -> list[tuple]:
    import pyarrow.dataset as pads

    cols = ["doc_sha256", "node", "shape_id", "status"]
    tbl = pads.dataset(path, format="parquet").to_table(columns=cols)
    return list(zip(*[tbl.column(c).to_pylist() for c in cols]))


def parquet_rows(path: str) -> int:
    import pyarrow.dataset as pads
    import pyarrow.parquet as papq

    return sum(papq.ParquetFile(f).metadata.num_rows for f in pads.dataset(path, format="parquet").files)


def set_hash(rows) -> int:
    """Order-independent hash of a row multiset."""
    h = 0
    for r in rows:
        h = (h + int.from_bytes(hashlib.blake2b(repr(r).encode(), digest_size=8).digest(), "big")) % (1 << 64)
    return h


def precision_recall(got: list[tuple], golden: set[tuple]) -> tuple[float, float]:
    g = set(got)
    tp = len(g & golden)
    return (tp / len(g) if g else 1.0), (tp / len(golden) if golden else 1.0)


def agreement(got: list[tuple], golden: set[tuple]) -> float:
    return len(set(got) & golden) / len(golden) if golden else 1.0


def _jobs(labels):
    """(schema, shapemap, label) jobs for ``validate_batch``."""
    from rdfshape_api_spark.plans import parse_shacl, parse_shexc

    shacl = {
        "shacl_sensor": G.SHACL_SENSOR,
        "shacl_qualified": SHACL_QUALIFIED,
        "shacl_xone": SHACL_XONE,
        "shacl_hasvalue": SHACL_HASVALUE,
    }
    return [
        (parse_shexc(G.SHEX_SENSOR), G.SHAPEMAP_QUERY, label) if label == "shex_sensor"
        else (parse_shacl(shacl[label]), None, label)
        for label in labels
    ]


def _span(run, name):
    return run.tracer.span(name) if run.tracer is not None and run.tracing else nullcontext()


def _traced_call(run, name, fn, *a, **kw):
    with _span(run, name):
        return run.call(fn, *a, **kw)


def _bracketed(run, untraced, traced):
    """Trace mode: a warm-up call, an untraced reference call, the traced
    call, and a second untraced reference call.  Returns the traced call's
    result and the mean wall of the two references."""
    untraced(0, warm=True)
    untraced(1, warm=False)
    run.tracing = True
    try:
        out = traced()
    finally:
        run.tracing = False
    untraced(3, warm=False)
    return out, statistics.fmean(run.samples["op_s"])


def _setup(run, engine):
    run.mark("inputs")
    run.tracer = Tracer() if run.args.trace else None
    engine.setup(run.tracer)
    run.samples["setup_s"] = list(engine.setup_samples)
    run.mark("setup")
    return engine.spark


def _check_triples(run, label, rows, golden):
    """Row count + order-independent hash against the golden set; P/R."""
    run.check(f"{label}: store rows {len(rows)} == golden {len(golden)}", len(rows) == len(golden))
    run.check(f"{label}: store hash == golden hash", set_hash(rows) == set_hash(golden))
    return precision_recall(rows, golden)


def _finish(run, engine, precision, recall, verdict_agree=None):
    run.mark("checks")
    rss = run.rss or engine.peak_rss_by_pid()
    run.notes["peak_rss_mb_by_pid"] = rss
    run.values["peak_rss_mb"] = (sum(rss.values()), "MB")
    run.values["triple_precision"] = (precision, "ratio")
    run.values["triple_recall"] = (recall, "ratio")
    run.check("triple_precision == 1", precision == 1.0)
    run.check("triple_recall == 1", recall == 1.0)
    if verdict_agree is not None:
        run.values["verdict_agreement"] = (verdict_agree, "ratio")
        run.check("verdict_agreement == 1", verdict_agree == 1.0)


# --------------------------------------------------------------------------
# build_mixed
# --------------------------------------------------------------------------

def _traced_pipeline(run, spark, docs, out_dir, shex, shacl):
    """``run_pipeline``'s stage calls in its order, each in a layer span;
    the two extraction branches are written separately so they time apart."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from rdfshape_api_spark.lineage import extraction_lineage
    from rdfshape_api_spark.model import TRIPLE_COLUMNS
    from rdfshape_api_spark.operators.canonicalize import (
        OWL_SAMEAS, canonicalize, link_entities, write_canonical_store,
    )
    from rdfshape_api_spark.pipeline import _store_pruned_for_schemas
    from rdfshape_api_spark.plans.validate import validate_batch
    from rdfshape_api_spark.sources.extract import (
        NT_LANGS, extract_ntriples_columnar, extract_python_formats, with_doc_sha,
    )

    d = {k: os.path.join(out_dir, k) for k in
         ("raw_nt", "raw_py", "lineage_extract", "errors", "triple_store", "verdicts")}
    tr = run.tracer
    with tr.span("pipeline"):
        with tr.span("sources.extract"):
            prepared = with_doc_sha(docs).persist(StorageLevel.DISK_ONLY)
            is_nt = F.lower(F.col("lang")).isin(*NT_LANGS)
            with tr.span("sources.extract.nt_columnar"):
                extract_ntriples_columnar(prepared.filter(is_nt)).write.mode("overwrite").parquet(d["raw_nt"])
            with tr.span("sources.extract.py_formats"):
                extract_python_formats(prepared.filter(~is_nt)).write.mode("overwrite").parquet(d["raw_py"])
        raw = spark.read.parquet(d["raw_nt"], d["raw_py"])
        with tr.span("lineage"):
            extraction_lineage(prepared, raw).write.mode("overwrite").parquet(d["lineage_extract"])
            prepared.unpersist()
            raw.filter(F.col("error").isNotNull()).select(
                "repo", "path", "commit", "doc_sha256", "error"
            ).write.mode("overwrite").parquet(d["errors"])
        with tr.span("operators.canonicalize"):
            canon = canonicalize(raw.filter(F.col("error").isNull()).select(*TRIPLE_COLUMNS))
            if not canon.filter(F.col("pred") == OWL_SAMEAS).isEmpty():
                canon = link_entities(canon)
            write_canonical_store(canon, d["triple_store"], subj_buckets=16, dedup=True)
        with tr.span("plans.validate"):
            jobs = [(shex, G.SHAPEMAP_QUERY, "shex_sensor"), (shacl, None, "shacl_sensor")]
            vt = _store_pruned_for_schemas(spark, d["triple_store"], [s for s, *_ in jobs])
            focus = spark.read.parquet(d["triple_store"]).select(*TRIPLE_COLUMNS)
            validate_batch(vt, jobs, focus_triples=focus).write.mode("overwrite").parquet(d["verdicts"])
        lin = pads.dataset(d["lineage_extract"], format="parquet").to_table(columns=["output_triples"])
        return int(pc.sum(lin.column("output_triples")).as_py() or 0)


def build_mixed(run, engine):
    from rdfshape_api_spark.pipeline import run_pipeline
    from rdfshape_api_spark.plans import parse_shacl, parse_shexc

    corpus = Corpus(run.args.seed, N_DOCS)
    docs_path = run.path("docs.parquet")
    write_docs(corpus.base, docs_path)
    golden = corpus.golden_triples(corpus.base)
    golden_v = corpus.golden_verdicts(corpus.base, SENSOR_LABELS)
    n_err = corpus.error_docs()

    spark = _setup(run, engine)
    docs = spark.read.parquet(docs_path)
    kw = dict(shex_schema=G.SHEX_SENSOR, shex_shapemap=G.SHAPEMAP_QUERY,
              shacl_schema=G.SHACL_SENSOR, resume=False)
    last = {}

    def one(i, warm):
        out = run.path(f"build{i}")
        r = run.call(run_pipeline, spark, docs, out, **kw)
        if r is None:
            return
        wall, m = r
        run.check(f"build {i}: verdicts {m.get('verdicts')} == {len(golden_v)}",
                  m.get("verdicts") == len(golden_v))
        run.check(f"build {i}: error docs {m['error_docs']} == {n_err}", m["error_docs"] == n_err)
        run.check(f"build {i}: store rows == golden",
                  parquet_rows(os.path.join(out, "triple_store")) == len(golden))
        if not warm:
            run.samples.setdefault("op_s", []).append(wall)
            run.samples.setdefault("build_s", []).append(wall)
            run.samples.setdefault("build_triples_per_s", []).append(m["triples"] / wall)
        if last.get("out"):
            shutil.rmtree(last["out"], ignore_errors=True)
        last.update(out=out, metrics=m)

    if not run.args.trace:
        run.loop(one, run.args.seconds)
    else:
        shex, shacl = parse_shexc(G.SHEX_SENSOR), parse_shacl(G.SHACL_SENSOR)
        traced_out = run.path("build_traced")
        r, untraced = _bracketed(run, one, lambda: run.call(
            _traced_pipeline, run, spark, docs, traced_out, shex, shacl))
        if r is not None:
            wall, triples = r
            ref_store = os.path.join(last["out"], "triple_store")
            run.check("traced store hash == run_pipeline store hash",
                      set_hash(store_rows(os.path.join(traced_out, "triple_store")))
                      == set_hash(store_rows(ref_store)))
            run.check("traced verdict count == run_pipeline verdict count",
                      parquet_rows(os.path.join(traced_out, "verdicts")) == last["metrics"]["verdicts"])
            pipe = next(s for s in run.tracer.spans if s["name"] == "pipeline")
            layer_sum = sum(s["end"] - s["start"] for s in run.tracer.spans if s["parent"] == pipe["id"])
            run.notes.update(layer_wall_sum_s=layer_sum, untraced_build_s=untraced)
            run.check(f"traced layer walls {layer_sum:.3f} s within 10% of untraced build_s {untraced:.3f} s",
                      abs(layer_sum - untraced) <= 0.10 * untraced)
            store = os.path.join(traced_out, "triple_store")
            files = [f for _, _, fs in os.walk(store) for f in fs if f.endswith(".parquet")]
            dirs = {root for root, _, fs in os.walk(store) if any(f.endswith(".parquet") for f in fs)}
            run.notes.update(
                overhead_ratio=wall / untraced,
                raw_triples=triples,
                store_rows=parquet_rows(store),
                files_per_dir=len(files) / max(len(dirs), 1),
            )

    rows = store_rows(os.path.join(last["out"], "triple_store"))
    p, rc = _check_triples(run, "build", rows, golden)
    agree = agreement(verdict_rows(os.path.join(last["out"], "verdicts")), golden_v)
    m = last["metrics"]
    run.values["docs_error_ratio"] = (m["error_docs"] / m["docs"], "ratio")
    _finish(run, engine, p, rc, agree)


# --------------------------------------------------------------------------
# revalidate
# --------------------------------------------------------------------------

def revalidate(run, engine):
    from rdfshape_api_spark.operators.canonicalize import read_canonical_store
    from rdfshape_api_spark.operators.incremental import init_snapshot
    from rdfshape_api_spark.pipeline import _store_pruned_for_schemas
    from rdfshape_api_spark.plans.validate import validate_batch

    corpus = Corpus(run.args.seed, N_DOCS)
    docs_path = run.path("docs.parquet")
    write_docs(corpus.base, docs_path)
    golden = corpus.golden_triples(corpus.base)
    golden_v = corpus.golden_verdicts(corpus.base, REVALIDATE_LABELS)

    spark = _setup(run, engine)
    store_root = run.path("store")
    if run.call(init_snapshot, spark.read.parquet(docs_path), store_root) is None:
        raise RuntimeError("store pre-build failed")
    run.mark("pre-build")
    store = os.path.join(store_root, "base")
    jobs = _jobs(REVALIDATE_LABELS)
    vdir = run.path("verdicts")

    def validate_pass():
        vt = _store_pruned_for_schemas(spark, store, [s for s, *_ in jobs])
        focus = read_canonical_store(spark, store)
        validate_batch(vt, jobs, focus_triples=focus).write.mode("overwrite").parquet(vdir)

    def one(i, warm):
        r = _traced_call(run, "plans.validate", validate_pass)
        if r is None:
            return
        run.check(f"revalidate {i}: verdict rows == golden", parquet_rows(vdir) == len(golden_v))
        if not warm:
            run.samples.setdefault("op_s", []).append(r[0])
            run.samples.setdefault("revalidate_s", []).append(r[0])

    if not run.args.trace:
        run.loop(one, run.args.seconds)
    else:
        traced, untraced = _bracketed(run, one, lambda: _traced_call(run, "plans.validate", validate_pass))
        if traced is not None:
            run.notes.update(overhead_ratio=traced[0] / untraced, store_rows=parquet_rows(store))

    rows = store_rows(store)
    p, rc = _check_triples(run, "revalidate store", rows, golden)
    _finish(run, engine, p, rc, agreement(verdict_rows(vdir), golden_v))


# --------------------------------------------------------------------------
# delta_merge
# --------------------------------------------------------------------------

def delta_merge(run, engine):
    from rdfshape_api_spark.operators.incremental import (
        compact_snapshot, init_snapshot, merge_snapshot, read_snapshot, snapshot_version,
    )

    corpus = Corpus(run.args.seed, N_DOCS, N_DELTAS, DELTA_DOCS)
    base_path = run.path("docs.parquet")
    write_docs(corpus.base, base_path)
    delta_paths, delta_bytes = [], 0
    for k, batch in enumerate(corpus.deltas):
        delta_paths.append(run.path(f"delta{k}.parquet"))
        delta_bytes += write_docs(batch, delta_paths[-1])
    golden = corpus.golden_triples(corpus.latest)

    spark = _setup(run, engine)
    pristine = run.path("pristine")
    if run.call(init_snapshot, spark.read.parquet(base_path), pristine) is None:
        raise RuntimeError("base snapshot pre-build failed")
    run.mark("pre-build")
    store = run.path("store")

    def read_forced():
        read_snapshot(spark, store).write.format("noop").mode("overwrite").save()

    last = {}

    def cycle(i, warm):
        shutil.rmtree(store, ignore_errors=True)
        shutil.copytree(pristine, store)
        merges = []
        for dp in delta_paths:
            r = _traced_call(run, "operators.incremental.merge", merge_snapshot,
                             spark, store, spark.read.parquet(dp))
            if r is None:
                return None
            merges.append(r[0])
        run.check(f"cycle {i}: snapshot version {snapshot_version(store)} == {len(delta_paths)}",
                  snapshot_version(store) == len(delta_paths))
        rd = _traced_call(run, "operators.incremental.read", read_forced)
        cp = _traced_call(run, "operators.incremental.compact", compact_snapshot, spark, store)
        if rd is None or cp is None:
            return None
        rows = store_rows(os.path.join(store, "base"))
        last["pr"] = _check_triples(run, f"cycle {i} snapshot", rows, golden)
        total = sum(merges) + rd[0] + cp[0]
        if not warm:
            run.samples.setdefault("op_s", []).append(total)
            run.samples.setdefault("merge_s", []).extend(merges)
            run.samples.setdefault("snapshot_read_s", []).append(rd[0])
            run.samples.setdefault("compact_s", []).append(cp[0])
        return total

    if not run.args.trace:
        # the pre-build already ran extract → canonicalize → store write on
        # this JVM; the first cycle is measured so a run fits its time budget
        run.loop(cycle, run.args.seconds, warmup=0)
    else:
        traced, untraced = _bracketed(run, cycle, lambda: cycle(2, warm=True))
        if traced is not None:
            run.notes.update(overhead_ratio=traced / untraced, delta_bytes=delta_bytes,
                             snapshot_rows=len(golden))
    if "pr" not in last:
        raise RuntimeError("no delta_merge cycle completed")
    p, rc = last["pr"]

    _finish(run, engine, p, rc)


# --------------------------------------------------------------------------
# per-layer fold (trace runs)
# --------------------------------------------------------------------------

def fold_trace(run):
    """Fold the closed event log into the per-layer metrics and write the
    spans and the layer table next to the run's report."""
    rows = fold(run.tracer, latest_event_log(os.path.join(run.work, "eventlog")))
    n = run.notes

    def ratio(a, b):
        return a / b if b else 0.0

    run.layers = {f"{layer}.{f}": rows[layer][f] for layer in LAYERS for f in FIELDS}
    run.layers.update({
        "sources.extract.triples_per_cpu_s": ratio(n.get("raw_triples", 0), rows["sources.extract"]["run_s"]),
        "operators.canonicalize.dedup_ratio": ratio(n.get("store_rows", 0), n.get("raw_triples", 0)),
        "operators.canonicalize.files_per_dir": n.get("files_per_dir", 0.0),
        "plans.validate.scan_ratio": ratio(rows["plans.validate"]["rows_in"], n.get("store_rows", 0)),
        "operators.incremental.merge.write_amp": ratio(rows["operators.incremental.merge"]["bytes_out"],
                                                       n.get("delta_bytes", 0)),
        "operators.incremental.read.read_amp": ratio(rows["operators.incremental.read"]["rows_in"],
                                                     n.get("snapshot_rows", 0)),
        "trace.overhead_ratio": n.get("overhead_ratio", 0.0),
    })
    run.tracer.write(run.stem + ".spans.jsonl")
    with open(run.stem + ".layers.json", "w") as fh:
        json.dump(rows, fh, indent=1)
    print(f"{'layer':32s} " + " ".join(f"{f:>9s}" for f in FIELDS))
    for layer in LAYERS:
        print(f"{layer:32s} " + " ".join(f"{rows[layer][f]:9.3f}" for f in FIELDS))
