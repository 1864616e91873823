"""``curation_iterative``: the iterative and Python-worker curation
probes, in a fixed order every pass, so every run warms the JVM the same
way. The closed loop runs whole passes, so every probe counts equally in
every run. An op is one probe execution: building its DataFrame
(iterative probes run their rounds' Spark jobs while building) and
collecting its result, which is small.

After the timed section, every op's result is compared with the probe's
DuckDB oracle under ``tools/verify_oracle.py``'s canonicalization.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time

import duckdb

import gen
import harness as h
import tracing as tr

# probe -> the table it scans (its declared input rows per op)
PROBES = {
    "graph_pagerank": "lineitem",
    "graph_kcore": "lineitem",
    "llm_ann_join": "embeddings",
    "llm_minhash_lsh": "documents",
    "llm_semantic_dedup_incr": "embeddings",
    "llm_multimodal_jpeg": "documents",
}
# a pass's seconds on the 4-core reference host: 31 to 41 s for the
# first, cold pass, about 22 s for the next
NOMINAL_PASS_S = 40.0


def _load_canon():
    spec = importlib.util.spec_from_file_location("verify_oracle", os.path.join(h.ROOT, "tools", "verify_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


canon = _load_canon()


def _instrument(ctx: h.Ctx) -> None:
    """Plans import ``load_table`` by name: wrap it in every plans
    module that holds it."""
    from ark_invest_api_rust_data_spark import catalog

    for name, mod in list(sys.modules.items()):
        if name.startswith("ark_invest_api_rust_data_spark.plans") and getattr(mod, "load_table", None) is catalog.load_table:
            ctx.tracer.wrap(mod, "load_table", "catalog.load_table")


def run(ctx: h.Ctx) -> dict:
    from ark_invest_api_rust_data_spark.plans import all_probes

    data = os.path.join(ctx.work, "data")
    os.makedirs(data)
    table_rows = gen.write_curation_tables(ctx.seed, data)
    probes = all_probes()

    with tr.PeakRss() as rss:
        spark, setup_s = h.set_up(ctx)
        if ctx.traced:
            _instrument(ctx)
        sc = spark.sparkContext
        ops: list[h.Op] = []
        results: list[tuple[list[str], list[tuple]]] = []
        pass_ends = []
        window_start = time.time()
        for _ in range(h.passes(ctx.seconds, NOMINAL_PASS_S)):
            for name in PROBES:
                with ctx.span("op", probe=name) as rec:
                    group = f"op{rec['id']}" if ctx.traced else None
                    if group:
                        sc.setJobGroup(group, name)
                    t0 = time.time()
                    with ctx.span("plans.build"):
                        df = probes[name].spark(spark, data)
                    with ctx.span("plans.action"):
                        rows = df.collect()
                    t1 = time.time()
                    if group:
                        sc.setJobGroup(None, None)
                ops.append(h.Op(name, t0, t1, rows=table_rows[PROBES[name]], group=group, span=rec.get("id")))
                results.append((df.columns, [tuple(r) for r in rows]))
            pass_ends.append(time.time())
            h.log(f"pass {len(pass_ends)} done")
    expected = _oracles(probes, data)
    h.log("oracles done")
    for o, (cols, rows) in zip(ops, results):
        o.ok = expected[o.name] == (sorted(cols), canon(rows, cols))
    if ctx.traced:
        metrics = h.per_layer(ctx, spark, ops, {})
    else:
        sizes = sum(os.path.getsize(f"{data}/{t}.parquet") for t in table_rows)
        metrics = h.end_to_end(
            setup_s=setup_s,
            first_pass_s=pass_ends[0] - window_start,
            ops=ops,
            window_s=pass_ends[-1] - window_start,
            peak_rss_mb=rss.mb,
            bytes_per_row=sizes / sum(table_rows.values()),
        )
    h.shutdown()
    return {
        "correct": all(o.ok for o in ops),
        "attempted": len(ops),
        "failed": sum(not o.ok for o in ops),
        "metrics": metrics,
    }


def _oracles(probes, data: str) -> dict[str, tuple[list[str], list[tuple]]]:
    """Each probe's expected (sorted column names, canonical rows)."""
    con = duckdb.connect()
    for table in set(PROBES.values()):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{data}/{table}.parquet'")
    out = {}
    for name in PROBES:
        res = con.execute(probes[name].oracle)
        cols = [d[0] for d in res.description]
        out[name] = (sorted(cols), canon(res.fetchall(), cols))
    con.close()
    return out
