"""relational_sf0.1 and interactive_sf0.001: a seeded stream of the eight
Datalog templates.

relational_sf0.1 sinks every result through ``execute(spark, query,
hfs_tap(...))``; interactive_sf0.001 returns it with
``Query.run(spark)``.  Each query reads its tables with
``spark.read.parquet``, builds its ``q(...)`` and runs it — the whole
path a user's ad-hoc query takes.  Results are checked after the run
against DuckDB over the same parquet files.
"""

from __future__ import annotations

import glob
import os

import datagen
import oracle
import templates
from common import CACHE, WORK
from templates import TEMPLATES
from workload import Op, Workload


class Relational(Workload):
    def __init__(self, name: str, seed: int, sf: float, sink: bool):
        super().__init__(name, seed)
        self.sf = sf
        self.sink = sink
        self.results: list[tuple] = []  # (template, params, output)

    def prepare(self) -> None:
        self.data = datagen.tpch_tables(CACHE, self.seed, self.sf)
        rng = datagen.rng_for(self.seed, "params", self.name)
        self.cycles = [templates.cycle(rng) for _ in range(400)]
        self.out_dir = os.path.join(WORK, "sink")

    def _query(self, spark, data: str, template: str, params: dict,
               path: str):
        from cascalog_spark import execute
        from cascalog_spark.sources import hfs_tap

        tables, _, build, _ = TEMPLATES[template]
        t = {n: spark.read.parquet(f"{data}/{n}.parquet") for n in tables}
        query = build(t, params)
        if not self.sink:
            return query.run(spark)
        execute(spark, query, hfs_tap(path))
        return path

    def warm(self, spark) -> None:
        # one pass over every template on the measured tables, with
        # parameters the measured cycles do not use
        for template, params in self.cycles[-1]:
            self._query(spark, self.data, template, params,
                        os.path.join(WORK, "warm"))

    def cycle(self, i: int) -> list[Op]:
        def op(template, params):
            def fn(spark):
                path = os.path.join(self.out_dir, f"r{len(self.results)}")
                out = self._query(spark, self.data, template, params, path)
                self.results.append((template, params, out))
            return Op("query", template, fn)

        return [op(t, p) for t, p in self.cycles[i]]

    def check(self) -> list[str]:
        con = oracle.connect(self.data, datagen.TABLES)
        failures = []
        for template, params, out in self.results:
            want = con.sql(TEMPLATES[template][3](params))
            want_cols, want_rows = want.columns, want.fetchall()
            if self.sink and glob.glob(f"{out}/*.parquet"):
                got = con.sql(f"SELECT * FROM '{out}/*.parquet'")
                got_cols, got_rows = got.columns, got.fetchall()
            elif self.sink:  # an empty result may leave no part file
                got_cols, got_rows = want_cols, []
            else:
                # run() returns tuples in out-field order = the oracle's
                got_cols, got_rows = want_cols, out
            why = oracle.mismatch(got_cols, got_rows, want_cols, want_rows)
            if why:
                failures.append(f"{template} {params}: {why}")
        con.close()
        return failures
