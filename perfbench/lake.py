"""lake_cdc: the write path under load, with reads beside the writes.

Set-up bootstraps a hive-partitioned (by order year) lake from the
orders table through ``apply_changes_into``.  One cycle of the closed
loop is ``OPTIMIZE_EVERY`` commits.  A commit gates a seeded CDC batch
with ``check_expectations`` (one aggregate pass over the batch; a failed
rule stops the batch), applies it with
``apply_changes_into(partition_by="o_year")`` and is followed by
``READS_PER_COMMIT`` small Datalog reads of one seeded year's per-status
order counts and totals; the last commit of a cycle also runs
``optimize_table``.  Whole cycles keep the mix of plain and compacting
commits the same in every run.

Checks: every gate report (each rule passed over the whole batch), every
read against a latest-seq-wins replay of all batches up to that commit
(kept as exact integer cents), and the final table row by row against
the replay.
"""

from __future__ import annotations

import glob
import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from common import CACHE, WORK, now
from workload import Op, Workload

N_BATCHES = 20
#: changes per commit, the batch size of an earlier measurement of this
#: write path on sf0.1 orders (4 cores)
BATCH_ROWS = 2000
#: commits between compactions: in that measurement live files grew by
#: 80 (66 to 146) between compactions while each commit rewrote all 16
#: partitions, that is five commits
OPTIMIZE_EVERY = 5
#: reads after each commit, so each cycle holds 15 read latencies
READS_PER_COMMIT = 3
#: the ingest gate: every rule must hold on every row of a batch
GATE_RULES = {
    "op_known": "op IN ('I', 'U', 'D')",
    "seq_positive": "seq > 0",
    "key_present": "o_orderkey IS NOT NULL",
    "price_positive": "o_totalprice > 0",
    "status_known": "o_orderstatus IN ('F', 'O', 'P')",
}
KEYS = ["o_year", "o_orderkey"]


def _year(days) -> np.ndarray:
    return (np.asarray(days, dtype="datetime64[D]").astype("datetime64[Y]")
            .astype(int) + 1970)


def _listing(root: str) -> dict:
    out = {}
    for f in glob.glob(os.path.join(root, "*", "*")):
        base = os.path.basename(f)
        if os.path.isfile(f) and not base.startswith(("_", ".")):
            st = os.stat(f)
            out[os.path.relpath(f, root)] = (st.st_ino, st.st_size)
    return out


class Lake(Workload):
    def prepare(self) -> None:
        data = datagen.tpch_tables(CACHE, self.seed, 0.1)
        orders = pq.read_table(os.path.join(data, "orders.parquet"))
        batches = datagen.cdc_batches(self.seed, orders, N_BATCHES,
                                      BATCH_ROWS)
        years = _year(orders.column("o_orderdate").cast(pa.int64())
                      .to_numpy() // 86_400_000_000)
        okeys = orders.column("o_orderkey").to_numpy()
        cents = np.round(orders.column("o_totalprice").to_numpy() * 100) \
            .astype(np.int64)
        status = orders.column("o_orderstatus").to_pylist()

        def write_feeds(out):
            pq.write_table(pa.table({
                "op": ["I"] * len(okeys), "seq": np.zeros(len(okeys), int),
                "o_orderkey": okeys, "o_year": years.astype(np.int32),
                "o_totalprice": cents / 100.0, "o_orderstatus": status}),
                os.path.join(out, "bootstrap.parquet"))
            for i, rows in enumerate(batches):
                op, seq, key, day, price, st = zip(*rows)
                pq.write_table(pa.table({
                    "op": list(op), "seq": list(seq), "o_orderkey": list(key),
                    "o_year": _year(day).astype(np.int32),
                    "o_totalprice": list(price), "o_orderstatus": list(st)}),
                    os.path.join(out, f"batch{i}.parquet"))

        self.feeds = datagen._cached(
            os.path.join(CACHE, f"cdc_seed{self.seed}"), write_feeds)
        # latest-seq-wins replay: per key (year, cents, status); per
        # (year, status) exact counts and cent totals after every commit
        state = {int(k): (int(y), int(c), s)
                 for k, y, c, s in zip(okeys, years, cents, status)}
        agg: dict[tuple, list] = {}
        for y, c, s in state.values():
            a = agg.setdefault((y, s), [0, 0])
            a[0] += 1
            a[1] += c
        rng = datagen.rng_for(self.seed, "lake_reads")
        lo, hi = int(years.min()), int(years.max())
        self.expected = []
        for rows in batches:
            for op, _, key, day, price, st in rows:
                old = state.pop(key, None)
                if old is not None:
                    agg[(old[0], old[2])][0] -= 1
                    agg[(old[0], old[2])][1] -= old[1]
                if op != "D":
                    new = (int(_year(day)), int(round(price * 100)), st)
                    state[key] = new
                    a = agg.setdefault((new[0], new[2]), [0, 0])
                    a[0] += 1
                    a[1] += new[1]
            self.expected.append([(year, sorted(
                (s, n, c) for (y, s), (n, c) in agg.items()
                if y == year and n > 0))
                for year in rng.integers(lo, hi + 1, READS_PER_COMMIT)
                .tolist()])
        self.replay = batches
        self.gates: list[tuple] = []     # (commit, report rows)
        self.reads: list[tuple] = []     # (commit, read, rows)
        self.commits: list[dict] = []    # per-commit figures
        self.commit_s: list[float] = []
        self.optimized: list[dict] = []  # optimize_table reports
        self.applied = 0                 # commits since the bootstrap

    def _bootstrap(self, spark, path: str) -> None:
        from cascalog_spark.operators.merge import apply_changes_into

        shutil.rmtree(path, ignore_errors=True)
        apply_changes_into(
            spark, path,
            spark.read.parquet(os.path.join(self.feeds, "bootstrap.parquet")),
            on=KEYS, op_col="op", seq_col="seq", partition_by="o_year")

    def setup(self, spark) -> None:
        self.lake = os.path.join(WORK, "lake")
        self._bootstrap(spark, self.lake)

    def reset(self, spark) -> None:
        self._bootstrap(spark, self.lake)
        self.applied = 0

    def warm(self, spark) -> None:
        # one commit, its reads and a compaction, on a scratch copy
        from cascalog_spark.operators.merge import optimize_table

        path = os.path.join(WORK, "lake_warm")
        shutil.copytree(self.lake, path)
        self._commit(spark, path, 0, self._gate(spark, 0)[0])
        for year, _ in self.expected[0]:
            self._read(spark, path, year)
        optimize_table(spark, path)
        shutil.rmtree(path)

    def _gate(self, spark, i: int):
        """The feed of batch ``i`` and its expectations report; raises
        when a rule fails, so a bad batch never reaches the lake."""
        from cascalog_spark.functions.expectations import check_expectations

        feed = spark.read.parquet(os.path.join(self.feeds,
                                               f"batch{i}.parquet"))
        report = [tuple(r) for r in
                  check_expectations(feed, GATE_RULES).collect()]
        bad = [r[0] for r in report if not r[4]]
        if bad:
            raise RuntimeError(f"batch{i}: expectations failed: {bad}")
        return feed, report

    def _commit(self, spark, path: str, i: int, feed) -> None:
        from cascalog_spark.operators.merge import (apply_changes_into,
                                                    optimize_table)

        apply_changes_into(spark, path, feed, on=KEYS, op_col="op",
                           seq_col="seq", partition_by="o_year")
        if (i + 1) % OPTIMIZE_EVERY == 0:
            rep = optimize_table(spark, path)
            if path == self.lake:
                self.optimized.append(rep)

    def _read(self, spark, path: str, year: int):
        from cascalog_spark import c, q

        lake = spark.read.parquet(path)
        return q(["?st", "?n", "?total"],
                 (lake, {"o_year": "?y", "o_orderstatus": "?st",
                         "o_totalprice": "?p"}),
                 (c.eq, "?y", year),
                 (c.count, "?n"),
                 (c.sum_agg, "?p", ":>", "?total")).run(spark)

    def cycle(self, i: int) -> list[Op]:
        if (i + 1) * OPTIMIZE_EVERY > N_BATCHES:
            raise RuntimeError(f"lake_cdc: more than {N_BATCHES} commits; "
                               "raise N_BATCHES")

        def commit(k):
            def fn(spark):
                feed, report = self._gate(spark, k)
                self.gates.append((k, report))
                before = _listing(self.lake) if self.tracer else None
                t0 = now()
                self._commit(spark, self.lake, k, feed)
                self.commit_s.append(now() - t0)
                self.applied = k + 1
                if before is not None:
                    self._observe(k, before)
            return Op("commit", f"commit{k}", fn)

        def read(k, j):
            def fn(spark):
                rows = self._read(spark, self.lake, self.expected[k][j][0])
                self.reads.append((k, j, rows))
            return Op("query", f"read{k}.{j}", fn)

        ops = []
        for k in range(i * OPTIMIZE_EVERY, (i + 1) * OPTIMIZE_EVERY):
            ops.append(commit(k))
            ops += [read(k, j) for j in range(READS_PER_COMMIT)]
        return ops

    def _observe(self, i: int, before: dict) -> None:
        after = _listing(self.lake)
        new = {f: v for f, v in after.items() if before.get(f) != v}
        gone = set(before) - set(after)
        parts = {f.split(os.sep, 1)[0] for f in list(new) + list(gone)}
        batch = os.path.getsize(os.path.join(self.feeds, f"batch{i}.parquet"))
        self.commits.append({
            "partitions": len(parts),
            "amplification": sum(v[1] for v in new.values()) / batch,
            "files_live": len(after)})

    # -- checks and figures ----------------------------------------------

    def check(self) -> list[str]:
        failures = []
        want_gate = sorted((r, BATCH_ROWS, 0, 0.0, True) for r in GATE_RULES)
        for k, report in self.gates:
            if sorted(report) != want_gate:
                failures.append(f"gate{k}: got {sorted(report)} "
                                f"want {want_gate}")
        for k, j, rows in self.reads:
            year, want = self.expected[k][j]
            got = sorted(rows)
            ok = len(got) == len(want) and all(
                gs == ws and gn == wn
                and math.isclose(gt, wc / 100.0, rel_tol=1e-9)
                for (gs, gn, gt), (ws, wn, wc) in zip(got, want))
            if not ok:
                failures.append(f"read{k}.{j} year {year}: "
                                f"got {got} want {want}")
        if self.applied:
            failures += self._check_table(self.applied)
        return failures

    def _check_table(self, n_commits: int) -> list[str]:
        files = glob.glob(os.path.join(self.lake, "o_year=*", "*.parquet"))
        t = pq.ParquetDataset(files, partitioning="hive").read()
        got = dict(zip(t.column("o_orderkey").to_pylist(),
                       zip(t.column("o_totalprice").to_pylist(),
                           t.column("o_orderstatus").to_pylist())))
        data = datagen.tpch_tables(CACHE, self.seed, 0.1)
        orders = pq.read_table(os.path.join(data, "orders.parquet"))
        want = dict(zip(orders.column("o_orderkey").to_pylist(),
                        zip(orders.column("o_totalprice").to_pylist(),
                            orders.column("o_orderstatus").to_pylist())))
        for rows in self.replay[:n_commits]:
            for op, _, key, _, price, st in rows:
                if op == "D":
                    want.pop(key, None)
                else:
                    want[key] = (price, st)
        if len(t) != len(want) or got != want:
            return [f"final table: {len(t)} rows, replay {len(want)}; "
                    f"{sum(got.get(k) != v for k, v in want.items())} differ"]
        self.live_rows = len(t)
        return []

    def report(self) -> dict:
        from common import latency_stats

        size = sum(os.path.getsize(f) for f in glob.glob(
            os.path.join(self.lake, "**", "*"), recursive=True)
            if os.path.isfile(f))
        out = latency_stats("commit", self.commit_s) if self.commit_s else {}
        out["storage_bytes_per_row"] = size / max(1, getattr(
            self, "live_rows", 0))
        return out

    def layer_report(self, spark, tracer) -> dict:
        spans = {n: [s for s in tracer.spans if s.name == f"operators.{n}"]
                 for n in ("apply_changes_into", "optimize_table")}
        merges, opts = spans["apply_changes_into"], spans["optimize_table"]
        n = max(1, len(self.commits))
        return {
            "operators.merge_s": sum(s.dur for s in merges) / max(1,
                                                                  len(merges)),
            "operators.optimize_s": sum(s.dur for s in opts) / max(1,
                                                                   len(opts)),
            "operators.partitions_rewritten": sum(
                c["partitions"] for c in self.commits) / n,
            "operators.write_amplification": sum(
                c["amplification"] for c in self.commits) / n,
            "operators.files_live": sum(c["files_live"]
                                        for c in self.commits) / n,
            "operators.optimize_bytes_rewritten": sum(
                r["bytes"] for r in self.optimized) / max(1,
                                                          len(self.optimized)),
        }
