"""The benchmark workloads.

Each workload generates its inputs from the seed, runs an untimed warm-up
(part of ``setup_s``), and then repeats its timed call.
``prepare`` and ``check`` run outside the timed region; ``call`` is the
program under test and nothing else.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import random
import re

from inputs import TreeShape, check_mirror, churn, digests, make_bulk, make_tree, rmtree

# The query workload's id list: Catalyst-bound anchors, then driver-loop
# ids that run many small jobs per call. The seed sets the order.
QUERY_ANCHORS = ["q_join_multi", "q_quantile_bins"]
QUERY_LOOPS = ["q_dedup_ngram", "q_triangle_count"]
QUERY_IDS = QUERY_ANCHORS + QUERY_LOOPS


class Sizes:
    """Input sizes; ``smoke`` shrinks every workload to a toy run."""

    def __init__(self, smoke: bool):
        self.small = TreeShape(files=24, leaf_dirs=4) if smoke else TreeShape(files=240, leaf_dirs=12)
        self.resync = TreeShape(files=24, leaf_dirs=4) if smoke else TreeShape(files=100, leaf_dirs=5)
        self.bulk_files = 8 if smoke else 64
        self.bulk_bytes = (2 if smoke else 128) << 20
        self.query_sf = 0.001 if smoke else 0.01


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, smoke: bool):
        self.work = work
        self.seed = seed
        self.sizes = Sizes(smoke)
        self.rng = random.Random(seed)
        self.tracer = None  # set while a traced repetition runs

    def generate(self) -> dict:
        """Write the inputs; returns their description, with at least the
        input ``files`` and ``bytes``."""
        raise NotImplementedError

    def warm(self, spark) -> None:
        """The untimed warm-up."""
        raise NotImplementedError

    def prepare(self, i: int) -> dict:
        """Untimed change before repetition ``i``; returns its description."""
        return {}

    def call(self, spark):
        raise NotImplementedError

    def check(self, spark, out) -> tuple[int, int, list[str]]:
        """(attempted, failed, problems) of the repetition just run."""
        raise NotImplementedError


class TreeSmall(Workload):
    """``distexec(src, fresh_dst, cmd)`` over a generated tree."""

    name = "tree_small"
    cmd = "cat"

    def generate(self) -> dict:
        self.src = os.path.join(self.work, "src")
        self.dst = os.path.join(self.work, "out")
        desc = self._make()
        self.expected = digests(self.src)
        return desc

    def _make(self) -> dict:
        return make_tree(self.src, self.sizes.small, self.rng)

    def warm(self, spark) -> None:
        self.call(spark)
        rmtree(self.dst)

    def prepare(self, i: int) -> dict:
        rmtree(self.dst)
        return {}

    def call(self, spark):
        from hadoop_distexec_spark.pipe import executor

        return executor.distexec(spark, self.src, self.dst, self.cmd)

    def check(self, spark, out):
        problems = check_mirror(self.expected, self.dst, gunzip=self.cmd.startswith("gzip"))
        fails = out.filter("status = 'FAIL'").count()
        rmtree(self.dst)
        return len(self.expected), fails + len(problems), problems


class TreeBulk(TreeSmall):
    """Large Latin-1 files in one flat directory through ``gzip -1 -c``."""

    name = "tree_bulk"
    cmd = "gzip -1 -c"

    def _make(self) -> dict:
        return make_bulk(self.src, self.sizes.bulk_files, self.sizes.bulk_bytes, self.rng)


class TreeResync(Workload):
    """``-update -delete`` re-runs of the CLI after a seeded churn. The
    warm-up is the tree's first full run."""

    name = "tree_resync"

    def generate(self) -> dict:
        self.src = os.path.join(self.work, "src")
        self.dst = os.path.join(self.work, "out")
        return make_tree(self.src, self.sizes.resync, self.rng)

    def warm(self, spark) -> None:
        rc, text = self.call(spark)
        if rc != 0:
            raise RuntimeError(f"first full run failed: exit {rc}: {text.strip()}")

    def prepare(self, i: int) -> dict:
        return churn(self.src, self.rng, i)

    def call(self, spark):
        from hadoop_distexec_spark import cli

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(["-update", "-delete", self.src, self.dst, "cat"])
        return rc, buf.getvalue()

    def check(self, spark, out):
        rc, text = out
        problems = [] if rc == 0 else [f"cli exit {rc}"]
        counters = dict(re.findall(r"(\w+)=(\d+)", text))
        expected = digests(self.src)
        problems += check_mirror(expected, self.dst)
        return len(expected), int(counters.get("fail", 0)) + len(problems), problems


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _oracle_util():
    """The repository's Spark-vs-DuckDB compare, loaded from tests/."""
    path = os.path.join(os.getcwd(), "tests", "oracle_util.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_util", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryMix(Workload):
    """One pass over ``QUERY_IDS``: each id is built, then written to the
    noop sink. The warm-up is two passes: on a 4-vCPU host the second pass
    in a process still took 6.8 s against 4.2-4.9 s for the passes after
    it, so with one warm-up pass the first timed pass is an outlier."""

    name = "query_mix"

    def generate(self) -> dict:
        import tables

        self.data = os.path.join(self.work, "tables")
        size = tables.write(self.data, self.seed, self.sizes.query_sf)
        self.order = list(QUERY_IDS)
        self.rng.shuffle(self.order)
        self.oracle = None  # DuckDB's answer per id, computed at the first check
        return {"sf": self.sizes.query_sf, "files": len(os.listdir(self.data)), "bytes": size, "order": self.order}

    def call(self, spark) -> dict:
        from hadoop_distexec_spark import registry

        specs = registry.specs()
        out = {}
        for qid in self.order:
            fn, write = specs[qid].fn, noop_write
            if self.tracer is not None:
                fn = self.tracer.wrap(fn, f"query.{qid}.build")
                write = self.tracer.wrap(write, f"query.{qid}.exec")
            try:
                df = fn(spark, self.data)
                write(df)
                out[qid] = df
            except Exception as e:  # an erroring id is a counted failure
                out[qid] = e
        return out

    def warm(self, spark) -> None:
        for _ in range(2):
            self.call(spark)

    def check(self, spark, out):
        from hadoop_distexec_spark import registry

        util = _oracle_util()
        if self.oracle is None:
            # the tables never change within a run, so neither do the answers
            specs = registry.specs()
            con = util.duckdb_conn(self.data)
            try:
                self.oracle = {q: con.execute(specs[q].oracle).fetchdf() for q in QUERY_IDS}
            finally:
                con.close()
        problems = []
        for qid, df in out.items():
            if isinstance(df, Exception):
                problems.append(f"{qid}: error {df!r}"[:300])
                continue
            try:
                util.compare(df.toPandas(), self.oracle[qid], qid)
            except AssertionError as e:
                problems.append(f"{qid}: {e}"[:300])
        return len(out), len(problems), problems


WORKLOADS = {w.name: w for w in (TreeSmall, TreeResync, TreeBulk, QueryMix)}
