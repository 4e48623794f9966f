"""Traced-only step ``registry``: the frozen headline queries of
``bench.py``, built from ``plans.QUERY_SPECS`` over testdata tables
generated from the seed (``tablegen``, sf0.01 sizes).

It runs at the end of a traced ``curation_stream`` run, after that
workload's own metrics are taken, so it adds nothing to them.  An untimed
pass first checks every query against its DuckDB oracle with the
comparison of ``tests/oracle_compare.py`` (a mismatch is a failed
operation) and warms the session.  Then each of ``ROUNDS`` rounds runs the
queries in a seeded order, timing three phases per query: ``build`` (the
spec's builder, where ``sources.testdata.table`` calls happen), ``plan``
(``queryExecution().executedPlan()``) and ``execute`` (Spark's ``noop``
sink).
"""

from __future__ import annotations

import os
import sys

import numpy as np

import tablegen
from bench import HEADLINE
from snowflake_iceberg_cld_bcdr_demo_spark.plans import QUERY_SPECS
from snowflake_iceberg_cld_bcdr_demo_spark.sources import testdata
from stats import median
from tests.oracle_compare import compare, duck_connection

SF = 0.01
ROUNDS = 1
PHASES = ("build", "plan", "execute")


def _span_tables(tracer):
    """Wrap ``sources.testdata.table`` in a span, in every engine module
    that imported it; returns the function that undoes it."""
    orig = testdata.table

    def table(spark, sf_dir, name):
        with tracer.span("sources.testdata", f"table.{name}"):
            return orig(spark, sf_dir, name)

    mods = [
        m for n, m in list(sys.modules.items())
        if n.startswith(testdata.__name__.split(".")[0]) and getattr(m, "table", None) is orig
    ]
    for m in mods:
        m.table = table

    def restore() -> None:
        for m in mods:
            m.table = orig

    return restore


def _jobs_under(span, children) -> int:
    return len(span.jobs) + sum(_jobs_under(c, children) for c in children.get(span.span_id, []))


def run(ctx) -> tuple[dict[str, float], dict]:
    spark, t = ctx.spark, ctx.tracer
    rng = np.random.default_rng(ctx.seed)
    sf_dir = os.path.join(ctx.run_dir, "testdata")
    rows = tablegen.write(rng, sf_dir, SF)
    con = duck_connection(sf_dir)

    def order() -> list[str]:
        return [HEADLINE[i] for i in rng.permutation(len(HEADLINE))]

    for name in order():
        spec = QUERY_SPECS[name]
        with ctx.op(f"oracle {name}") as ok:
            same, msg = compare(spec.build(spark, sf_dir), con, spec.oracle)
            ok(same, msg)
    con.close()

    first = len(t.spans)
    rounds: list[dict[str, dict]] = []
    restore = _span_tables(t)
    try:
        for r in range(ROUNDS):
            per: dict[str, dict] = {}
            for name in order():
                tid = f"registry-{r}-{name}"
                with ctx.op(f"query {name}"):
                    with t.span("plans", f"{name}.build", tid) as b:
                        df = QUERY_SPECS[name].build(spark, sf_dir)
                    with t.span("plans", f"{name}.plan", tid) as p:
                        df._jdf.queryExecution().executedPlan()
                    with t.span("plans", f"{name}.execute", tid) as e:
                        df.write.format("noop").mode("overwrite").save()
                    per[name] = {"build": b, "plan": p, "execute": e}
            rounds.append(per)
    finally:
        restore()

    spans = t.spans[first:]
    children: dict[int, list] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    tables = [s for s in spans if s.layer == "sources.testdata"]
    values = {
        f"plans.{ph}_s": median([sum(q[ph].seconds for q in per.values()) for per in rounds])
        for ph in PHASES
    }
    values["plans.build_jobs"] = median(
        [sum(_jobs_under(q["build"], children) for q in per.values()) for per in rounds]
    )
    values["plans.build_py4j"] = median(
        [sum(q["build"].py4j for q in per.values()) for per in rounds]
    )
    for name in HEADLINE:
        for ph in ("build", "execute"):
            got = [per[name][ph].seconds for per in rounds if name in per]
            values[f"plans.{name}.{ph}_s"] = median(got) if got else 0.0
    values["testdata.table_jobs"] = (
        sum(_jobs_under(s, children) for s in tables) / len(tables) if tables else 0.0
    )
    info = {"sf": SF, "rows": rows, "rounds": ROUNDS, "table_calls": len(tables)}
    return values, info
