"""Seeded generator of one protein entry's source files and their truth.

For each entry it writes the four texts ProteoFAV merges:

- ``mmcif/<id>.cif``                 an ``_atom_site`` loop, heavy atoms only
- ``dssp/<id>.dssp``                 fixed-width residue records, ``!*`` between chains
- ``sifts/<id>.xml``                 PDB + UniProt ``crossRefDb`` per residue
- ``validation/<id>_validation.xml`` one ``ModelledSubgroup`` per residue

The :class:`Entry` that produced the files is the truth the benchmark's
output checks compare against. Everything is a pure function of the
``random.Random`` passed in, so one seed always gives the same bytes.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

# heavy atoms of the 20 standard residues, PDB atom names in file order
HEAVY_ATOMS: dict[str, tuple[str, ...]] = {
    "GLY": ("N", "CA", "C", "O"),
    "ALA": ("N", "CA", "C", "O", "CB"),
    "SER": ("N", "CA", "C", "O", "CB", "OG"),
    "CYS": ("N", "CA", "C", "O", "CB", "SG"),
    "VAL": ("N", "CA", "C", "O", "CB", "CG1", "CG2"),
    "THR": ("N", "CA", "C", "O", "CB", "OG1", "CG2"),
    "PRO": ("N", "CA", "C", "O", "CB", "CG", "CD"),
    "ILE": ("N", "CA", "C", "O", "CB", "CG1", "CG2", "CD1"),
    "LEU": ("N", "CA", "C", "O", "CB", "CG", "CD1", "CD2"),
    "ASP": ("N", "CA", "C", "O", "CB", "CG", "OD1", "OD2"),
    "ASN": ("N", "CA", "C", "O", "CB", "CG", "OD1", "ND2"),
    "GLU": ("N", "CA", "C", "O", "CB", "CG", "CD", "OE1", "OE2"),
    "GLN": ("N", "CA", "C", "O", "CB", "CG", "CD", "OE1", "NE2"),
    "LYS": ("N", "CA", "C", "O", "CB", "CG", "CD", "CE", "NZ"),
    "MET": ("N", "CA", "C", "O", "CB", "CG", "SD", "CE"),
    "HIS": ("N", "CA", "C", "O", "CB", "CG", "ND1", "CD2", "CE1", "NE2"),
    "PHE": ("N", "CA", "C", "O", "CB", "CG", "CD1", "CD2", "CE1", "CE2", "CZ"),
    "ARG": ("N", "CA", "C", "O", "CB", "CG", "CD", "NE", "CZ", "NH1", "NH2"),
    "TYR": ("N", "CA", "C", "O", "CB", "CG", "CD1", "CD2", "CE1", "CE2", "CZ", "OH"),
    "TRP": ("N", "CA", "C", "O", "CB", "CG", "CD1", "CD2", "NE1", "CE2", "CE3",
            "CZ2", "CZ3", "CH2"),
}
AA3TO1 = {
    "GLY": "G", "ALA": "A", "SER": "S", "CYS": "C", "VAL": "V", "THR": "T",
    "PRO": "P", "ILE": "I", "LEU": "L", "ASP": "D", "ASN": "N", "GLU": "E",
    "GLN": "Q", "LYS": "K", "MET": "M", "HIS": "H", "PHE": "F", "ARG": "R",
    "TYR": "Y", "TRP": "W",
}
_RESIDUES = tuple(HEAVY_ATOMS)
# DSSP secondary-structure letters; "" is coil, written as a blank column
SS_LETTERS = ("H", "E", "G", "T", "S", "B", "I", "")
_ID_CHARS = "abcdefghijklmnopqrstuvwxyz0123456789"

ATOM_SITE_KEYS = (
    "group_PDB", "id", "type_symbol", "label_atom_id", "label_alt_id",
    "label_comp_id", "label_asym_id", "label_entity_id", "label_seq_id",
    "pdbx_PDB_ins_code", "Cartn_x", "Cartn_y", "Cartn_z", "occupancy",
    "B_iso_or_equiv", "pdbx_formal_charge", "auth_seq_id", "auth_comp_id",
    "auth_asym_id", "auth_atom_id", "pdbx_PDB_model_num",
)


@dataclass(frozen=True)
class Residue:
    resnum: int
    icode: str  # "" or an insertion letter
    comp: str  # 3-letter residue name
    ss: str  # DSSP letter, "" for coil
    acc: int
    unp_num: int  # UniProt sequence position

    @property
    def res_full(self) -> str:
        return f"{self.resnum}{self.icode}"

    @property
    def n_atoms(self) -> int:
        return len(HEAVY_ATOMS[self.comp])


@dataclass(frozen=True)
class Chain:
    chain_id: str
    accession: str  # UniProt accession the chain maps to
    residues: tuple[Residue, ...]


@dataclass(frozen=True)
class Entry:
    entry_id: str
    chains: tuple[Chain, ...]

    @property
    def n_residues(self) -> int:
        return sum(len(c.residues) for c in self.chains)

    @property
    def n_atoms(self) -> int:
        return sum(r.n_atoms for c in self.chains for r in c.residues)


def entry_ids(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct 4-character PDB-style ids (digit + 3 alphanumerics)."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        eid = str(rng.randint(1, 9)) + "".join(rng.choice(_ID_CHARS) for _ in range(3))
        if eid not in seen:
            seen.add(eid)
            out.append(eid)
    return out


def _accession(rng: random.Random) -> str:
    """A UniProt-shaped accession: [OPQ][0-9][A-Z0-9]{3}[0-9]."""
    alnum = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    return (rng.choice("OPQ") + str(rng.randint(0, 9))
            + "".join(rng.choice(alnum) for _ in range(3)) + str(rng.randint(0, 9)))


def make_entry(rng: random.Random, entry_id: str, n_residues: int) -> Entry:
    """One entry of ``n_residues`` residues over one or two chains. About
    1 % of residues carry an insertion code and secondary structure comes
    in runs, as in real DSSP output."""
    total = n_residues
    n_chains = rng.choice((1, 2))
    sizes = [total] if n_chains == 1 else [total // 2, total - total // 2]
    chains = []
    for ci, size in enumerate(sizes):
        start = rng.randint(1, 30)
        unp_offset = rng.randint(0, 200)
        residues = []
        resnum, ss, run = start, "", 0
        for i in range(size):
            if run == 0:
                ss = rng.choice(SS_LETTERS)
                run = rng.randint(2, 12)
            run -= 1
            icode = ""
            if i and not residues[-1].icode and rng.random() < 0.01:
                icode = "A"  # inserted residue repeats the previous number
                resnum -= 1
            residues.append(Residue(
                resnum=resnum, icode=icode, comp=rng.choice(_RESIDUES), ss=ss,
                acc=rng.randint(0, 250), unp_num=i + 1 + unp_offset,
            ))
            resnum += 1
        chains.append(Chain("AB"[ci], _accession(rng), tuple(residues)))
    return Entry(entry_id, tuple(chains))


def mmcif_text(entry: Entry, rng: random.Random) -> str:
    lines = [f"data_{entry.entry_id.upper()}", "#", "loop_"]
    lines += [f"_atom_site.{k}" for k in ATOM_SITE_KEYS]
    atom_id = 0
    for ci, chain in enumerate(entry.chains):
        x, y, z = rng.uniform(-20, 20), rng.uniform(-20, 20), rng.uniform(-20, 20)
        for seq_i, res in enumerate(chain.residues, start=1):
            x += rng.uniform(-2.2, 2.2)
            y += rng.uniform(-2.2, 2.2)
            z += rng.uniform(-2.2, 2.2)
            for name in HEAVY_ATOMS[res.comp]:
                atom_id += 1
                lines.append(" ".join((
                    "ATOM", str(atom_id), name[0], name, ".", res.comp,
                    chain.chain_id, str(ci + 1), str(seq_i), res.icode or "?",
                    f"{x + rng.uniform(-1.5, 1.5):.3f}",
                    f"{y + rng.uniform(-1.5, 1.5):.3f}",
                    f"{z + rng.uniform(-1.5, 1.5):.3f}",
                    "1.00", f"{rng.uniform(5, 80):.2f}", "?",
                    str(res.resnum), res.comp, chain.chain_id, name, "1",
                )))
    lines.append("#")
    return "\n".join(lines) + "\n"


_DSSP_HEADER = (
    "  #  RESIDUE AA STRUCTURE BP1 BP2  ACC     N-H-->O    O-->H-N    "
    "N-H-->O    O-->H-N    TCO  KAPPA ALPHA  PHI   PSI    X-CA   Y-CA   Z-CA"
)


# 0-based [start, end) column spans of a DSSP residue record
_DSSP_SPANS = {
    "LINE": (0, 5), "RES": (5, 10), "INSCODE": (10, 11), "CHAIN": (11, 12),
    "AA": (13, 15), "SS": (16, 17), "BP1": (25, 29), "BP2": (29, 33),
    "ACC": (34, 38), "NH_O_1": (38, 50), "O_HN_1": (50, 61),
    "NH_O_2": (61, 72), "O_HN_2": (72, 84), "TCO": (85, 91),
    "KAPPA": (91, 97), "ALPHA": (97, 103), "PHI": (103, 109),
    "PSI": (109, 115), "X-CA": (115, 122), "Y-CA": (122, 129),
    "Z-CA": (129, 136),
}


def _dssp_line(n: int, res: Residue | None, chain: str, rng: random.Random) -> str:
    """One record; ``res=None`` writes the ``!*`` break between chains."""
    fields = {"LINE": str(n), "BP1": "0", "BP2": "0",
              "NH_O_1": "0, 0.0", "O_HN_1": "0, 0.0",
              "NH_O_2": "0, 0.0", "O_HN_2": "0, 0.0"}
    if res is None:
        fields.update(AA="!*", ACC="0", TCO="0.000", KAPPA="360.0",
                      ALPHA="360.0", PHI="360.0", PSI="360.0")
        fields.update({k: "0.0" for k in ("X-CA", "Y-CA", "Z-CA")})
    else:
        fields.update(
            RES=str(res.resnum), INSCODE=res.icode, CHAIN=chain,
            AA=AA3TO1[res.comp], SS=res.ss, ACC=str(res.acc),
            TCO=f"{rng.uniform(-1, 1):.3f}", KAPPA=f"{rng.uniform(0, 180):.1f}",
            ALPHA=f"{rng.uniform(-180, 180):.1f}",
            PHI=f"{rng.uniform(-180, 180):.1f}", PSI=f"{rng.uniform(-180, 180):.1f}",
        )
        fields.update({k: f"{rng.uniform(-50, 50):.1f}" for k in ("X-CA", "Y-CA", "Z-CA")})
    buf = [" "] * 136
    for name, val in fields.items():
        a, b = _DSSP_SPANS[name]
        # the AA column is left-aligned (DSSP writes "!*" from column 13)
        cell = val.ljust(b - a) if name == "AA" else val.rjust(b - a)
        buf[a:b] = cell
    return "".join(buf).rstrip()


def dssp_text(entry: Entry, rng: random.Random) -> str:
    lines = [
        "==== Secondary Structure Definition by the program DSSP ==== DATE=2026-01-01",
        f"HEADER    SYNTHETIC ENTRY                         01-JAN-26   {entry.entry_id.upper()}",
        _DSSP_HEADER,
    ]
    n = 0
    for ci, chain in enumerate(entry.chains):
        if ci:
            n += 1
            lines.append(_dssp_line(n, None, "", rng))
        for res in chain.residues:
            n += 1
            lines.append(_dssp_line(n, res, chain.chain_id, rng))
    return "\n".join(lines) + "\n"


def sifts_text(entry: Entry) -> str:
    ns = "http://www.ebi.ac.uk/pdbe/docs/sifts/eFamily.xsd"
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        f'<entry xmlns="{ns}" dbSource="PDBe" dbCoordSys="PDBe" '
        f'dbAccessionId="{entry.entry_id}" dbEntryVersion="2026-01-01">',
        '  <listDB>',
        '    <db dbSource="PDB" dbCoordSys="PDBresnum" dbVersion="30.01"/>',
        '    <db dbSource="UniProt" dbCoordSys="UniProt" dbVersion="2026.01"/>',
        '  </listDB>',
    ]
    for ci, chain in enumerate(entry.chains, start=1):
        first, last = chain.residues[0], chain.residues[-1]
        out += [
            f'  <entity type="protein" entityId="{chain.chain_id}">',
            '    <segment segId="1" start="1" end="%d">' % len(chain.residues),
            '      <listResidue>',
        ]
        for i, res in enumerate(chain.residues, start=1):
            out += [
                f'        <residue dbSource="PDBe" dbCoordSys="PDBe" dbResNum="{i}" dbResName="{res.comp}">',
                f'          <crossRefDb dbSource="PDB" dbCoordSys="PDBresnum" dbAccessionId="{entry.entry_id}" '
                f'dbResNum="{res.res_full}" dbResName="{res.comp}" dbChainId="{chain.chain_id}"/>',
                f'          <crossRefDb dbSource="UniProt" dbCoordSys="UniProt" dbAccessionId="{chain.accession}" '
                f'dbResNum="{res.unp_num}" dbResName="{AA3TO1[res.comp]}"/>',
                '          <residueDetail dbSource="PDBe" property="Annotation">Observed</residueDetail>',
                '        </residue>',
            ]
        out += [
            '      </listResidue>',
            '      <listMapRegion>',
            f'        <mapRegion start="1" end="{len(chain.residues)}">',
            f'          <db dbSource="UniProt" dbCoordSys="UniProt" dbAccessionId="{chain.accession}" '
            f'start="{first.unp_num}" end="{last.unp_num}"/>',
            '        </mapRegion>',
            '      </listMapRegion>',
            '    </segment>',
            '  </entity>',
        ]
    out.append('</entry>')
    return "\n".join(out) + "\n"


def validation_text(entry: Entry, rng: random.Random) -> str:
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<wwPDB-validation-information>',
        f'  <Entry pdbid="{entry.entry_id}" PDB-resolution="2.00"/>',
    ]
    for ci, chain in enumerate(entry.chains, start=1):
        for res in chain.residues:
            out.append(
                f'  <ModelledSubgroup model="1" chain="{chain.chain_id}" resnum="{res.resnum}" '
                f'resname="{res.comp}" icode="{res.icode or " "}" altcode=" " said="{chain.chain_id}" '
                f'seq="." ent="{ci}" rsr="{rng.uniform(0.05, 0.4):.3f}" '
                f'rsrz="{rng.uniform(-2, 3):.3f}" rscc="{rng.uniform(0.6, 1):.3f}" '
                f'rama="{rng.choice(("Favored", "Allowed", "OUTLIER"))}" '
                f'phi="{rng.uniform(-180, 180):.1f}" psi="{rng.uniform(-180, 180):.1f}" '
                f'avgoccu="1.00" owab="{rng.uniform(5, 80):.2f}" NatomsEDS="{res.n_atoms}"/>'
            )
    out.append('</wwPDB-validation-information>')
    return "\n".join(out) + "\n"


SOURCES = ("mmcif", "dssp", "sifts", "validation")


def entry_paths(root: str, entry_id: str) -> dict[str, str]:
    """Where :func:`write_entry` puts each source of ``entry_id``."""
    return {
        "mmcif": os.path.join(root, "mmcif", f"{entry_id}.cif"),
        "dssp": os.path.join(root, "dssp", f"{entry_id}.dssp"),
        "sifts": os.path.join(root, "sifts", f"{entry_id}.xml"),
        "validation": os.path.join(root, "validation", f"{entry_id}_validation.xml"),
    }


def write_entry(root: str, entry: Entry, rng: random.Random,
                sources: tuple[str, ...] = SOURCES) -> dict[str, str]:
    """Write ``sources`` of ``entry`` under ``root``; returns their paths."""
    paths = entry_paths(root, entry.entry_id)
    texts = {
        "mmcif": lambda: mmcif_text(entry, rng),
        "dssp": lambda: dssp_text(entry, rng),
        "sifts": lambda: sifts_text(entry),
        "validation": lambda: validation_text(entry, rng),
    }
    for src in sources:
        os.makedirs(os.path.dirname(paths[src]), exist_ok=True)
        with open(paths[src], "w") as fh:
            fh.write(texts[src]())
    return {s: paths[s] for s in sources}
