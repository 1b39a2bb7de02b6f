"""The registry workload: passes over a fixed list of ``__spark_entry__``
queries, one cold, then a number of warm passes fixed by ``--seconds``.

Each query is one operation in two timed steps: the registry-function call
(``build``: Python, py4j and any eager jobs the operator runs while
building) and ``collect()`` of the returned DataFrame (``execute``). Every
step runs under its own Spark job group, ``<pass>/<query>/<step>``, so the
status store can attribute jobs, stages and tasks exactly. The query order
is shuffled per pass from the workload seed.

After timing, the cold pass's result of every query that has an oracle is
compared with its DuckDB ``oracle_sql()`` twin through ``tools/selfcheck``'s
canonical form, and every warm result with the cold one.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from collections import defaultdict

from . import gen
from .trace import group_stats


def _module(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


# A pass holds JVM-only TPC-H shapes and LLM-curation faces that run Python
# workers and a session memo.
QUERIES = [
    "q1_pricing_summary",  # relational: scan + aggregate
    "q18_large_volume_orders",  # tpch_extra: join + aggregate + semi-join
    "dedup_minhash_lsh",  # dedup: Arrow kernel
    "knn_bruteforce_vectorized",  # similarity: Arrow kernel
    "ann_ivfpq",  # similarity: session memo, built eagerly on first use
]
MODULES = ["relational", "tpch_extra", "dedup", "similarity"]
SCALE = 0.01  # table sizes of sf0.01: 60k lineitem rows, 500 documents
PASS_S = 2.0  # nominal warm pass, which sets the number of passes


class RegistryWorkload:
    names = QUERIES

    def warm_count(self, seconds: float) -> int:
        """Warm passes that fill ``seconds`` at the nominal pass time; fixed
        by the arguments, so every run does the same work."""
        return max(4, round(seconds / PASS_S))

    def prepare(self, work: str, seed: int) -> None:
        self.seed = seed
        self.sf_dir = os.path.join(work, "tables")
        gen.write_tables(self.sf_dir, seed, SCALE)

    def _pass(self, spark, pass_no: int, tracer) -> dict:
        sc = spark.sparkContext
        order = list(self.names)
        # the cold pass keeps the list's order, so first-use costs fall on
        # the same query in every run
        if pass_no:
            random.Random(self.seed * 7919 + pass_no).shuffle(order)
        gid = f"pass{pass_no}"
        tracer.pass_id = gid
        steps, rows = [], {}
        t0, w0 = time.perf_counter(), time.time()
        with tracer.span(gid, "bench"):
            for name in order:
                fn = self.queries[name]
                mod = _module(fn)
                a = time.perf_counter()
                sc.setJobGroup(f"{gid}/{name}/build", name)
                with tracer.span(f"{mod}.{name}", "operators.build"):
                    df = fn(spark, self.sf_dir)
                b = time.perf_counter()
                sc.setJobGroup(f"{gid}/{name}/execute", name)
                with tracer.span(f"{mod}.{name}", "operators.execute"):
                    rows[name] = (df.columns, [tuple(r) for r in df.collect()])
                c = time.perf_counter()
                steps.append((name, mod, b - a, c - b))
        wall = time.perf_counter() - t0
        sc.setJobGroup("bench", "between passes")
        p = {"wall": wall, "steps": steps, "rows": rows, "window": (w0, w0 + wall)}
        if tracer.enabled:
            p["build"] = group_stats(
                spark, [f"{gid}/{n}/build" for n in order], p["window"]
            )
            p["sched"] = group_stats(
                spark,
                [f"{gid}/{n}/{s}" for n in order for s in ("build", "execute")],
                p["window"],
            )
        return p

    def run(self, spark, seconds: float, tracer) -> dict:
        import __spark_entry__ as entry

        self.queries = {n: entry.queries()[n] for n in self.names}
        cold = self._pass(spark, 0, tracer)
        warm: list[dict] = []
        for k in range(1, self.warm_count(seconds) + 1):
            warm.append(self._pass(spark, k, tracer))
        return self._summarize(cold, warm, tracer)

    # -- results ---------------------------------------------------------
    def _summarize(self, cold: dict, warm: list[dict], tracer) -> dict:
        # the later half of the warm passes: JIT drift is flatter there
        settled = warm[len(warm) // 2 :]
        attempted = len(self.names) * (1 + len(warm))
        failed = self.check(cold, warm)
        out = {
            "cold_pass_s": cold["wall"],
            "warm_pass_s": statistics.median(w["wall"] for w in settled),
            "ops": [b + e for w in settled for (_, _, b, e) in w["steps"]],
            "warm_walls": [w["wall"] for w in warm],
            "settled_ids": [f"pass{i}" for i in range(len(warm) - len(settled) + 1, len(warm) + 1)],
            "attempted": attempted,
            "failed": failed,
        }
        if tracer.enabled:
            out["layers"] = self._layers(cold, settled)
        return out

    def _layers(self, cold: dict, warm: list[dict]) -> dict:
        def per_pass(p):
            d = defaultdict(float)
            for _, mod, b, e in p["steps"]:
                d[f"{mod}.build_s"] += b
                d[f"{mod}.execute_s"] += e
                d["operators.build_s"] += b
                d["operators.execute_s"] += e
            d["operators.build_jobs"] = p["build"].get("scheduler.jobs", 0)
            d.update(p["sched"])
            return d

        rows = [per_pass(w) for w in warm]
        keys = set().union(*rows)
        out = {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}
        for _, mod, b, e in cold["steps"]:
            out[f"{mod}.cold_s"] = out.get(f"{mod}.cold_s", 0.0) + b + e
        return out

    def check(self, cold: dict, warm: list[dict]) -> int:
        """Failed operations: oracle mismatches of the cold results, and warm
        results that differ from the cold ones."""
        import duckdb

        import __spark_entry__ as entry
        from tools.selfcheck import canon_rows

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for f in sorted(os.listdir(self.sf_dir)):
            t = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{f}'")
        failed = 0
        for name in self.names:
            cols, got = cold["rows"][name]
            canon = canon_rows(cols, got)
            if name in oracles:
                res = con.execute(oracles[name])
                ocols = [d[0] for d in res.description]
                ok = sorted(cols) == sorted(ocols) and canon == canon_rows(ocols, res.fetchall())
            else:  # rows-only face: it must return something
                ok = bool(got)
            if not ok:
                print(f"perfbench: {name}: result differs from its oracle", flush=True)
                failed += 1
            for w in warm:
                wcols, wrows = w["rows"][name]
                if canon_rows(wcols, wrows) != canon:
                    print(f"perfbench: {name}: warm result differs from cold", flush=True)
                    failed += 1
        return failed
