"""Round trip of the benchmark's input generator through the repo's readers:
each reader must return the generator's truth (row counts, keys, DSSP
secondary-structure letters, UniProt accessions).

Run from the repository root:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import structgen as G  # noqa: E402
from harness import percentile, stop_spark, tail  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from proteofav_spark.session import get_spark

    session = get_spark("perfbench_roundtrip", cpus="2")
    yield session
    stop_spark(session)


@pytest.fixture(scope="module")
def entries(tmp_path_factory):
    """Two entries: one with two chains and one with one chain, both with
    at least one inserted residue."""
    root = str(tmp_path_factory.mktemp("gen"))
    rng = random.Random(5)
    out = []
    for eid in G.entry_ids(rng, 40):
        e = G.make_entry(rng, eid, 240)
        inserted = any(r.icode for c in e.chains for r in c.residues)
        if inserted and len(e.chains) not in {len(x.chains) for x, _ in out}:
            out.append((e, G.write_entry(root, e, rng)))
        if len(out) == 2:
            return root, out
    raise AssertionError("seed 5 gave no inserted residue in either chain layout")


def _residues(e: G.Entry):
    return [(c, r) for c in e.chains for r in c.residues]


def test_same_seed_same_bytes(tmp_path):
    texts = []
    for d in ("a", "b"):
        rng = random.Random(9)
        e = G.make_entry(rng, "1abc", 150)
        paths = G.write_entry(str(tmp_path / d), e, rng)
        texts.append([open(p).read() for p in paths.values()])
    assert texts[0] == texts[1]


def test_residue_keys_unique():
    rng = random.Random(1)
    for eid in G.entry_ids(rng, 30):
        for chain in G.make_entry(rng, eid, 1000).chains:
            keys = [r.res_full for r in chain.residues]
            assert len(keys) == len(set(keys))


def test_mmcif_atoms(spark, entries):
    from proteofav_spark.operators.structures import select_structures

    for e, p in entries[1]:
        rows = select_structures(spark, p["mmcif"]).select(
            "auth_asym_id", "auth_seq_id_full", "auth_comp_id", "auth_atom_id").collect()
        want = {(c.chain_id, r.res_full, r.comp, a)
                for c, r in _residues(e) for a in G.HEAVY_ATOMS[r.comp]}
        assert len(rows) == e.n_atoms
        assert {tuple(r) for r in rows} == want


def test_dssp_residues(spark, entries):
    from proteofav_spark.sources.dssp import select_dssp

    for e, p in entries[1]:
        rows = select_dssp(spark, p["dssp"]).select(
            "CHAIN_FULL", "RES_FULL", "AA", "SS", "ACC").collect()
        want = {(c.chain_id, r.res_full, G.AA3TO1[r.comp], r.ss, r.acc)
                for c, r in _residues(e)}
        assert len(rows) == e.n_residues
        assert {tuple(r) for r in rows} == want


def test_sifts_mapping(spark, entries):
    from proteofav_spark.sources.sifts import select_sifts

    for e, p in entries[1]:
        rows = select_sifts(spark, p["sifts"]).select(
            "PDB_dbChainId", "PDB_dbResNum", "UniProt_dbAccessionId",
            "UniProt_dbResNum", "UniProt_regionId").collect()
        want = {(c.chain_id, r.res_full, c.accession, str(r.unp_num), "1")
                for c, r in _residues(e)}
        assert len(rows) == e.n_residues
        assert {tuple(r) for r in rows} == want


def test_validation_residues(spark, entries):
    from proteofav_spark.sources.validation import select_validation

    for e, p in entries[1]:
        rows = select_validation(spark, p["validation"]).select(
            "validation_chain", "validation_resnum_full", "validation_resname",
            "validation_NatomsEDS").collect()
        want = {(c.chain_id, r.res_full, r.comp, r.n_atoms) for c, r in _residues(e)}
        assert len(rows) == e.n_residues
        assert {tuple(r) for r in rows} == want


def test_bulk_mmcif_parse(spark, entries):
    from proteofav_spark.plans.lake import parse_mmcif_atoms_many

    root, pairs = entries
    counts = dict(
        parse_mmcif_atoms_many(spark, os.path.join(root, "mmcif"))
        .groupBy("entry_id").count().collect()
    )
    assert counts == {e.entry_id: e.n_atoms for e, _ in pairs}


def test_tail_keeps_ten_samples_beyond():
    values = [float(v) for v in range(1, 31)]
    value, p = tail(values)
    assert p == 66 and value == percentile(values, 66)
    assert sum(v > value for v in values) >= 10
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100)
    assert tail(values[:15]) == (15.0, 100)
