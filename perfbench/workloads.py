"""The benchmark's pipelines: what one operation does, its warm-up and
the check of its output.

- :class:`StructureMerge`  one entry per op: the four ``select_*`` readers,
  ``table_merger``, a ``noop``-sink write.
- :class:`LakeIngest`      one batch of distinct entries per op: bulk
  mmCIF parse, glob DSSP/SIFTS readers, ``lake_table_merger``,
  ``residues_aggregation``, ``write_partitioned`` to Parquet.
- :class:`CatalogMix`      one catalog query per op, materialized to a
  ``noop`` sink.

Ops come in rounds (``rounds``): a run measures whole rounds, so every
run sees the same mix of ops. Each layer is called through its public
function; the tracer's spans sit around those calls.
"""

from __future__ import annotations

import contextlib
import math
import os
import random
import shutil
from collections import defaultdict

import catgen
import structgen as G

# size strata of 100..1000 residues (log-spaced), in the order entries
# use them, so the first few entries of every seed span the same sizes
STRATA_ORDER = (3, 4, 5, 2, 6, 1, 7, 0)
MIN_RESIDUES, MAX_RESIDUES = 100, 1000


def _stratified_sizes(rng: random.Random, n: int) -> list[int]:
    """``n`` residue counts: the i-th at a seeded point in the middle half
    of stratum ``STRATA_ORDER[i % 8]``."""
    k = len(STRATA_ORDER)
    lo, hi = math.log(MIN_RESIDUES), math.log(MAX_RESIDUES)
    return [
        int(math.exp(lo + (STRATA_ORDER[i % k] + 0.25 + 0.5 * rng.random()) / k * (hi - lo)))
        for i in range(n)
    ]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _run_warm(wl, spark) -> None:
    for op in wl.warm:
        wl.cleanup(wl.execute(spark, op))


def _span(tracer, wl, layer: str, op: str):
    """A tracer span named ``<pipeline>.<layer>``, or nothing untraced."""
    if tracer is None:
        return contextlib.nullcontext()
    return tracer.span(f"{wl.PREFIX}.{layer}", op)


# --------------------------------------------------------------------------
# structure_merge
# --------------------------------------------------------------------------

class StructureMerge:
    """structure_merge: one op, and one round, is one fresh entry."""

    PREFIX = "sm"
    LAYERS = (
        "operators.structures.select_structures",
        "sources.dssp.select_dssp",
        "sources.sifts.select_sifts",
        "sources.validation.select_validation",
        "plans.mergers.table_merger",
        "exec.materialize",
    )
    # one untimed entry: latency levels off from the second op of a
    # session on (STEADINESS.md, "Warm-up")
    N_WARM = 1
    N_ROUNDS = 4

    def __init__(self, root: str, seed: int) -> None:
        rng = random.Random(f"structure_merge/{seed}")
        n = self.N_WARM + self.N_ROUNDS
        entries = [G.make_entry(rng, eid, s)
                   for eid, s in zip(G.entry_ids(rng, n), _stratified_sizes(rng, n))]
        self.paths = {e.entry_id: G.write_entry(root, e, rng) for e in entries}
        self.warm = entries[:self.N_WARM]
        self.rounds = [[e] for e in entries[self.N_WARM:]]

    def warm_up(self, spark, tracer=None) -> None:
        _run_warm(self, spark)

    @staticmethod
    def size(entry: G.Entry) -> int:
        return entry.n_atoms

    def execute(self, spark, entry: G.Entry, tracer=None):
        """The op: the four readers, the merge tree, a ``noop`` write.
        Returns the merged frame."""
        from proteofav_spark.operators.structures import select_structures
        from proteofav_spark.plans.mergers import table_merger
        from proteofav_spark.sources.dssp import select_dssp
        from proteofav_spark.sources.sifts import select_sifts
        from proteofav_spark.sources.validation import select_validation

        p = self.paths[entry.entry_id]
        readers = (
            lambda: select_structures(spark, p["mmcif"]),
            lambda: select_dssp(spark, p["dssp"]),
            lambda: select_sifts(spark, p["sifts"]),
            lambda: select_validation(spark, p["validation"]),
        )
        tables = []
        for layer, read in zip(self.LAYERS, readers):
            with _span(tracer, self, layer, entry.entry_id):
                tables.append(read())
        with _span(tracer, self, self.LAYERS[4], entry.entry_id):
            merged = table_merger(*tables)
        with _span(tracer, self, self.LAYERS[5], entry.entry_id):
            _noop(merged)
        return merged

    @staticmethod
    def truth(entry: G.Entry) -> dict:
        """(chain, SS, accession) → (atoms, sum of UniProt resnum, sum of
        ACC, atoms with a validation row), summed over the heavy atoms."""
        out: dict = defaultdict(lambda: [0, 0, 0, 0])
        for chain in entry.chains:
            for r in chain.residues:
                acc = out[(chain.chain_id, r.ss, chain.accession)]
                n = r.n_atoms
                acc[0] += n
                acc[1] += n * r.unp_num
                acc[2] += n * r.acc
                acc[3] += n
        return {k: tuple(v) for k, v in out.items()}

    def cleanup(self, merged) -> None:
        pass

    def verify(self, spark, entry: G.Entry, merged) -> bool:
        """Merged rows, grouped as in :meth:`truth`, equal the truth."""
        from pyspark.sql import functions as F

        rows = (
            merged.groupBy("auth_asym_id", "SS", "UniProt_dbAccessionId")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("UniProt_dbResNum").cast("long")).alias("unp"),
                F.sum(F.col("ACC").cast("long")).alias("acc"),
                F.count("validation_rama").alias("val"),
            )
            .collect()
        )
        got = {(r[0], r[1], r[2]): (r.n, r.unp, r.acc, r.val) for r in rows}
        return got == self.truth(entry)


# --------------------------------------------------------------------------
# lake_ingest_merge
# --------------------------------------------------------------------------

class LakeIngest:
    """lake_ingest_merge: one op, and one round, is one batch of distinct
    entries, written as an entry-partitioned Parquet lake."""

    PREFIX = "lake"
    LAYERS = (
        "plans.lake.parse_mmcif_atoms_many",
        "sources.dssp.select_dssp",
        "sources.sifts.select_sifts",
        "plans.mergers.lake_table_merger",
        "operators.structures.residues_aggregation",
        "plans.lake.write_partitioned",
    )
    SOURCES = ("mmcif", "dssp", "sifts")
    # 40 entries (five of each size stratum) hold about 130k atoms; from
    # this size on, per-entry work outweighs the fixed per-batch cost
    # (STEADINESS.md, "Lake batch size")
    BATCH = 40
    N_BATCHES = 2
    # entries in each untimed warm pass
    WARM_BATCHES = (2, 2)

    def __init__(self, root: str, seed: int, batch: int = BATCH) -> None:
        rng = random.Random(f"lake_ingest_merge/{seed}")
        self.root = root
        sizes = [*self.WARM_BATCHES] + [batch] * self.N_BATCHES
        ids = iter(G.entry_ids(rng, sum(sizes)))
        batches = []
        for b, n in enumerate(sizes):
            entries = [G.make_entry(rng, next(ids), s) for s in _stratified_sizes(rng, n)]
            bdir = os.path.join(root, f"batch{b}")
            for e in entries:
                G.write_entry(bdir, e, rng, sources=self.SOURCES)
            batches.append((bdir, entries))
        n_warm = len(self.WARM_BATCHES)
        self.warm = batches[:n_warm]
        self.rounds = [[b] for b in batches[n_warm:]]
        self.written: list[tuple[int, int]] = []  # (bytes, files) per verified lake
        self._n_out = 0

    def warm_up(self, spark, tracer=None) -> None:
        _run_warm(self, spark)

    @staticmethod
    def size(op) -> int:
        return sum(e.n_atoms for e in op[1])

    def execute(self, spark, op, tracer=None) -> str:
        """The op; returns the lake directory it wrote. Traced, each
        layer's span materializes the pipeline up to that layer (the two
        readers on their own), so a span times a prefix of the op."""
        from proteofav_spark.functions.derived import add_res_full
        from proteofav_spark.operators.structures import residues_aggregation
        from proteofav_spark.plans.lake import (
            entry_id_col,
            parse_mmcif_atoms_many,
            write_partitioned,
        )
        from proteofav_spark.plans.mergers import lake_table_merger
        from proteofav_spark.sources.dssp import select_dssp
        from proteofav_spark.sources.sifts import select_sifts

        bdir = op[0]
        self._n_out += 1
        out = os.path.join(self.root, "lake", f"out{self._n_out}")
        name = os.path.basename(bdir)

        def layer(i: int, build):
            with _span(tracer, self, self.LAYERS[i], name):
                df = build()
                if tracer is not None:
                    _noop(df)
            return df

        atoms = layer(0, lambda: add_res_full(
            parse_mmcif_atoms_many(spark, os.path.join(bdir, "mmcif"))))
        dssp = layer(1, lambda: select_dssp(spark, os.path.join(bdir, "dssp", "*.dssp"))
                     .withColumn("entry_id", entry_id_col()))
        sifts = layer(2, lambda: select_sifts(spark, os.path.join(bdir, "sifts", "*.xml"))
                      .withColumn("entry_id", entry_id_col()))
        merged = layer(3, lambda: lake_table_merger(atoms, dssp_table=dssp, sifts_table=sifts))
        residues = layer(4, lambda: residues_aggregation(merged))
        with _span(tracer, self, self.LAYERS[5], name):
            write_partitioned(residues, out)
        return out

    @staticmethod
    def truth(entries: list[G.Entry]) -> dict:
        """entry → (residue groups, sum of UniProt resnum, sum of mean ACC).
        ``residues_aggregation`` groups on (chain, auth_seq_id), so an
        inserted residue folds into the residue whose number it repeats;
        the group's string columns keep the first residue's values and its
        numeric columns average over the group's atoms."""
        out = {}
        for e in entries:
            groups: dict = {}
            for chain in e.chains:
                for r in chain.residues:
                    g = groups.setdefault((chain.chain_id, r.resnum), [r.unp_num, 0, 0])
                    g[1] += r.n_atoms
                    g[2] += r.n_atoms * r.acc
            out[e.entry_id] = (
                len(groups),
                sum(g[0] for g in groups.values()),
                sum(g[2] / g[1] for g in groups.values()),
            )
        return out

    def verify(self, spark, op, out: str) -> bool:
        """Read the lake back: per-entry counts and sums equal the truth."""
        from pyspark.sql import functions as F

        rows = (
            spark.read.parquet(out).groupBy("entry_id")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("UniProt_dbResNum").cast("long")).alias("unp"),
                 F.sum("ACC").alias("acc"))
            .collect()
        )
        got = {r.entry_id: (r.n, r.unp, r.acc) for r in rows}
        want = self.truth(op[1])
        self.written.append(self.lake_stats(out))
        return got.keys() == want.keys() and all(
            got[k][:2] == want[k][:2] and math.isclose(got[k][2], want[k][2], rel_tol=1e-9)
            for k in want
        )

    @staticmethod
    def cleanup(out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)

    @staticmethod
    def lake_stats(out: str) -> tuple[int, int]:
        """(bytes, files) of the Parquet data files under ``out``."""
        size = files = 0
        for dirpath, _, names in os.walk(out):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
        return size, files


# --------------------------------------------------------------------------
# catalog_mix
# --------------------------------------------------------------------------

class CatalogMix:
    """catalog_mix: one op is one catalog query over a seeded corpus,
    materialized to a ``noop`` sink; a round is :attr:`PASSES` passes
    over :attr:`QUERIES`. The warm-up is one untimed pass that collects each
    query's rows (its first run, which also builds the index of an
    index-backed query); they are checked against the DuckDB oracles
    once per run."""

    PREFIX = "catalog"
    # bench.HEADLINE queries, one from each module that defines them:
    # queries.py, operators/analytics_queries, operators/llm_queries
    # (index-backed), operators/pipeline_queries, operators/curation
    QUERIES = (
        "join_merge_tree",
        "join_star_revenue",
        "ann_ivf_coarse",
        "events_asof_join",
        "contamination_ngram_overlap",
    )
    # one pass takes about 5 s; two in a round make every run measure the
    # same ten ops, each query twice
    PASSES = 2

    def __init__(self, root: str, seed: int) -> None:
        import bench

        assert set(self.QUERIES) <= set(bench.HEADLINE), "catalog_mix runs headline queries"
        self.indexed = [q for q in self.QUERIES if q in bench.ANN_INDEXED]
        self.corpus = os.path.join(root, "corpus")
        catgen.generate(self.corpus, seed)
        self.rounds = [list(self.QUERIES) * self.PASSES]
        self._fns: dict = {}
        self._collected: dict = {}
        self._parity: dict[str, bool] | None = None

    def warm_up(self, spark, tracer=None) -> None:
        """First run of every query, collected for the parity check.
        Traced, its spans are named ``catalog.<query>.cold``."""
        from proteofav_spark.queries import all_queries

        fns = all_queries(include_retired=True)
        self._fns = {name: fns[name] for name in self.QUERIES}
        for name, fn in self._fns.items():
            with _span(tracer, self, f"{name}.cold", name):
                df = fn(spark, self.corpus)
                self._collected[name] = (
                    {f.name: f.dataType.simpleString() for f in df.schema}, df.collect())

    def execute(self, spark, name: str, tracer=None) -> None:
        with _span(tracer, self, name, name):
            _noop(self._fns[name](spark, self.corpus))

    def verify(self, spark, name: str, _) -> bool:
        """The query's warm-up rows matched its oracle; the check runs
        once per run, at the first call."""
        if self._parity is None:
            self._parity = self.parity()
        return self._parity[name]

    def parity(self) -> dict[str, bool]:
        """Query → whether its collected rows equal its DuckDB oracle's:
        column names, per-column types, row count and values, normalized
        as ``tools/check_oracles.py`` does."""
        import duckdb
        from check_oracles import TABLES, normalize, type_parity

        from proteofav_spark.queries import all_oracles

        oracles = all_oracles(include_retired=True)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.corpus}/{t}.parquet'")
        out = {}
        try:
            for name in self.QUERIES:
                stypes, srows = self._collected[name]
                rel = con.sql(oracles[name])
                ocols = list(rel.columns)
                otypes = dict(zip(ocols, (str(t) for t in rel.types)))
                orows = rel.fetchall()
                cols = sorted(stypes)
                out[name] = (
                    cols == sorted(ocols)
                    and all(type_parity(stypes[c], otypes[c]) for c in cols)
                    and len(srows) == len(orows)
                    and normalize([r.asDict() for r in srows], cols)
                    == normalize([dict(zip(ocols, r)) for r in orows], cols)
                )
        finally:
            con.close()
        return out


WORKLOADS = {
    "structure_merge": StructureMerge,
    "lake_ingest_merge": LakeIngest,
    "catalog_mix": CatalogMix,
}
