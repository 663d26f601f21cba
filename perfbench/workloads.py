"""The two workloads: their inputs, set-up, operations and checks.

``run.py`` drives a workload object through:

- ``generate(seed)``: write the seeded inputs (outside every timing);
- ``stage(spark, tracer)``: the workload's part of set-up, once the
  session exists;
- ``warm_up(tracer)``: the last part of set-up, before the first timed
  operation;
- ``ops()``: ``(name, fn)`` pairs; ``fn(tracer)`` runs one operation end
  to end and returns the DataFrame it ran, if there is a single one;
- ``check()``: after the timed region, maps operation names to None or to
  the reason the operation's output is wrong.
"""

from __future__ import annotations

import os

import checks
import etl
import gen_procog
import gen_star

# the registry's (table, bucketing key) first touches: every table plainly,
# plus the two the star/report-card queries declare a join key for
STAGED = [(n, None) for n in checks.STAR_TABLES] + [
    ("lineitem", "l_orderkey"), ("orders", "o_orderkey"),
]

def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Serve:
    """A resident dashboard over the seeded star tables. The warm-up's first
    calls fill the registry's plan memo; each timed operation asks the
    registry for its plan (a memo hit, or for ``graph_pagerank``, which the
    registry rebuilds on every call, a fresh build of its PageRank
    supersteps) and runs it into the noop sink."""

    name = "serve_sf0.02"
    mix = (
        "q1_global_summary_counts", "q4_report_card", "p6_ownership_classify",
        "sim_bruteforce_topk", "dedup_minhash_lsh", "graph_pagerank",
    )
    graph_ops = ["graph_pagerank"]

    def __init__(self, work: str):
        self.input_dir = os.path.join(work, f"sf{gen_star.SF}")

    def generate(self, seed: int) -> None:
        gen_star.write(seed, self.input_dir)

    def stage(self, spark, tr) -> None:
        from procoggraph_spark.queries import registry
        from procoggraph_spark.queries.common import t

        self.spark = spark
        with tr.span("queries.registry"):
            self.queries, self.oracles = registry()
        with tr.span("queries.common.stage"):
            for name, key in STAGED:
                t(self.spark, self.input_dir, name, widen_on=key)

    def warm_up(self, tr) -> None:
        """The first call of every operation, collected: ``check`` compares
        these outputs once the timed region is over."""
        self.outputs = {}
        for n in self.mix:
            try:
                self.outputs[n] = self.queries[n](self.spark, self.input_dir).toPandas()
            except Exception as e:
                self.outputs[n] = f"raised {str(e).splitlines()[0][:300]}"

    def ops(self):
        def op(name):
            def run(tr):
                with tr.span("queries.build"):
                    df = self.queries[name](self.spark, self.input_dir)
                noop(df)
                return df
            return run
        return [(n, op(n)) for n in self.mix]

    def check(self) -> dict:
        """Each warm-up output against its DuckDB twin from ``oracle_sql()``
        or, without one, against the properties in ``checks.PROPERTIES``."""
        con, out = checks.duck_con(self.input_dir), {}
        for n, pdf in self.outputs.items():
            if isinstance(pdf, str):
                out[n] = pdf
            elif n in self.oracles:
                out[n] = checks.oracle_check(pdf, con, self.oracles[n])
            else:
                out[n] = checks.PROPERTIES[n](pdf, self.input_dir)
        con.close()
        return out


class ProcogEtl:
    """The batch path over seeded ProCogGraph inputs. A batch job runs once
    per process, so its pass is timed cold: there is no warm-up pass."""

    name = "procog_etl"

    def __init__(self, work: str):
        self.input_dir = os.path.join(work, "procog_inputs")
        self.out = os.path.join(work, "procog_out")
        self.graph = None
        self.last: dict = {}

    def generate(self, seed: int) -> None:
        gen_procog.write(seed, self.input_dir)
        self.groups = etl.dashboard_groups(self.input_dir)
        self.dashboard = etl.dashboard_queries(self.groups)
        self.graph_ops = list(self.dashboard)

    def stage(self, spark, tr) -> None:
        self.spark = spark
        with tr.span("pipeline.open_inputs"):
            self.inputs = etl.open_inputs(spark, self.input_dir)

    def warm_up(self, tr) -> None:
        pass  # none: the batch pass is timed cold

    def ops(self):
        def contacts(tr):
            etl.run_contacts(self.spark, self.inputs, self.out)

        def build(tr):
            self.tables = etl.run_build_graph(self.spark, self.inputs, self.out)

        def export(tr):
            self.graph = etl.run_export(self.spark, self.out)

        def query(name, fn):
            def run(tr):
                df = self.last[name] = fn(self.graph)
                noop(df)
                return df
            return run

        # a dashboard asks its queries again and again: three rounds a pass,
        # so that each query's median is not one cold call
        queries = [(n, query(n, fn)) for n, fn in self.dashboard.items()]
        return [("contacts", contacts), ("build_graph", build), ("export", export)] + queries * 3

    def check(self) -> dict:
        return etl.check(self.input_dir, self.out, self.tables, self.graph, self.last,
                         self.groups)


WORKLOADS = {w.name: w for w in (Serve, ProcogEtl)}
