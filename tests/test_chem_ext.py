"""Hand-verified fixtures for the round-6b graph families
(functions/chemdesc_ext.py): E-state, autocorrelations, Basak, Burden,
E-state fingerprints.  Conditional RDKit parity lives in
tests/test_chem_rdkit_parity.py."""

from __future__ import annotations

import math

import numpy as np
import pytest

from ifeatureomega_cli_spark.functions.chemdesc_ext import (
    _ESTATE_TYPES, add_hydrogens, autocorrelation_broto,
    autocorrelation_geary, autocorrelation_moran, basak, burden, estate,
    estate_fingerprint_counts, estate_indices, estate_type_members)
from ifeatureomega_cli_spark.functions.molgraph import parse_smiles
from tests.conftest import SMILES_PANEL

_TYPE_NAMES = [t[0] for t in _ESTATE_TYPES]


def _typed(mol):
    return {_TYPE_NAMES[i]: m
            for i, m in enumerate(estate_type_members(mol)) if m}


# ------------------------------------------------------------- E-state

def test_estate_indices_ethanol_hand():
    # I: CH3 → (4/4·1+1)/1 = 2; CH2 → (2+1)/2 = 1.5; OH → (5+1)/1 = 6
    # perturbation over (d+1)²: S = [2 + 1/8 − 4/9, 1.5 − 1/8 − 9/8,
    #                                6 + 4/9 + 9/8]
    S = estate_indices(parse_smiles("CCO"))
    want = [2 + 0.125 - 4 / 9, 1.5 - 0.125 - 1.125, 6 + 4 / 9 + 1.125]
    np.testing.assert_allclose(S, want, rtol=0, atol=1e-12)


def test_estate_indices_benzene_symmetry():
    # every aromatic CH: I = (4/4·3+1)/2 = 2; perturbation cancels by
    # symmetry → all S exactly 2
    S = estate_indices(parse_smiles("c1ccccc1"))
    np.testing.assert_allclose(S, np.full(6, 2.0), atol=1e-12)


def test_estate_atom_typing_hand():
    assert _typed(parse_smiles("CCO")) == {
        "sCH3": [0], "ssCH2": [1], "sOH": [2]}
    assert _typed(parse_smiles("c1ccccc1")) == {"aaCH": [0, 1, 2, 3, 4, 5]}
    # nitro N: the '# mod' ddsN pattern (two any-bond terminal O)
    t = _typed(parse_smiles("O=[N+]([O-])c1ccccc1"))
    assert t["ddsN"] == [1] and t["dO"] == [0]
    # acetone: sCH3 ×2, dssC carbonyl, dO
    t = _typed(parse_smiles("CC(=O)C"))
    assert t == {"sCH3": [0, 3], "dssC": [1], "dO": [2]}
    # sulfone: ddssS with strict single remainders
    t = _typed(parse_smiles("CS(=O)(=O)C"))
    assert t["ddssS"] == [1]
    # caffeine: carbonyl ring carbons (:,:,=) match NO type — exactly the
    # reference's SMARTS behavior (untyped atoms stay ())
    t = _typed(parse_smiles("Cn1cnc2c1c(=O)n(C)c(=O)n2C"))
    assert {k: len(v) for k, v in t.items()} == {
        "sCH3": 3, "aaCH": 1, "aaaC": 2, "aaN": 1, "aasN": 3, "dO": 2}


def test_estate_family_vector_hand():
    e = estate(parse_smiles("CCO"))
    assert len(e) == 245
    S = [2 + 0.125 - 4 / 9, 1.5 - 0.125 - 1.125, 6 + 4 / 9 + 1.125]
    i_sch3 = _TYPE_NAMES.index("sCH3")
    i_soh = _TYPE_NAMES.index("sOH")
    assert e[i_sch3] == pytest.approx(S[0])          # value block
    assert e[79 + i_soh] == pytest.approx(S[2])      # max block
    assert e[158 + i_sch3] == pytest.approx(S[0])    # min block
    shev, scar, shal, shet, save, smax, smin, ds = e[-8:]
    assert shev == pytest.approx(sum(S))
    assert scar == pytest.approx(S[0] + S[1])
    assert shal == 0.0
    assert shet == pytest.approx(S[2])
    assert save == pytest.approx(sum(S) / 3)
    assert ds == pytest.approx(S[2] - S[1])


def test_estate_fingerprint_counts():
    fp = estate_fingerprint_counts(parse_smiles("c1ccccc1"))
    assert fp.sum() == 6 and fp[_TYPE_NAMES.index("aaCH")] == 6


# ------------------------------------------------- autocorrelations

def test_autocorrelation_hand_ethanol():
    # relative masses: C → 1, O → 16.00/12.01; ordered pairs at lag 1:
    # (C0,C1)×2 and (C1,O)×2
    mo = 16.00 / 12.01
    ats = autocorrelation_broto(parse_smiles("CCO"))
    assert ats[0] == pytest.approx(math.log((2 * 1 + 2 * mo) / 2 + 1))
    # lag 8: no pairs → log(0/2+1) = 0
    assert ats[7] == 0.0
    # Moran lag 1 by hand
    p = np.array([1.0, 1.0, mo])
    dev = p - p.mean()
    ss = float((dev * dev).sum())
    res = 2 * dev[0] * dev[1] + 2 * dev[1] * dev[2]
    mats = autocorrelation_moran(parse_smiles("CCO"))
    assert mats[0] == pytest.approx((res / 4) / (ss / 3))
    # Geary lag 1 by hand (the /(N−1) sample-variance quirk)
    resg = 2 * (p[0] - p[1]) ** 2 + 2 * (p[1] - p[2]) ** 2
    gats = autocorrelation_geary(parse_smiles("CCO"))
    assert gats[0] == pytest.approx((resg / 4 / 2) / (ss / 2))
    # homogeneous-property molecule (benzene, all C): variance 0 → 0
    assert autocorrelation_moran(parse_smiles("c1ccccc1"))[0] == 0.0
    assert autocorrelation_geary(parse_smiles("c1ccccc1"))[0] == 0.0


def test_autocorrelation_family_shapes():
    for fn in (autocorrelation_broto, autocorrelation_moran,
               autocorrelation_geary):
        v = fn(parse_smiles("Cn1cnc2c1c(=O)n(C)c(=O)n2C"))
        assert v.shape == (32,) and np.isfinite(v).all()


# ----------------------------------------------------------- Basak

def test_basak_hand_ethanol():
    v = basak(parse_smiles("CCO"))
    assert len(v) == 21
    cic, sic, ic = v[:7], v[7:14], v[14:]
    # IC0: H-graph atom counts C2 H6 O1 → entropy([2,6,1]/9)
    pr = np.array([2, 6, 1]) / 9
    ic0 = float(-(pr * np.log2(pr)).sum())
    assert ic[0] == pytest.approx(ic0)
    assert cic[0] == pytest.approx(math.log2(9) - ic0)
    assert sic[0] == pytest.approx(ic0 / math.log2(9))
    # IC1 (2-atom neighborhoods): classes {C0},{C1},{O},{5×H-on-C},{H-on-O}
    pr1 = np.array([1, 1, 1, 5, 1]) / 9
    ic1 = float(-(pr1 * np.log2(pr1)).sum())
    assert ic[1] == pytest.approx(ic1)
    # no 6- or 7-atom paths in ethanol+H → IC = 0, CIC = log2(9) (the
    # reference's empty-path branch), SIC = 0
    assert ic[5] == ic[6] == 0.0
    assert cic[5] == cic[6] == pytest.approx(math.log2(9))
    assert sic[5] == sic[6] == 0.0


def test_basak_methane_single_class():
    # CH4: IC0 = entropy([1,4]/5); IC1: classes {C},{4×H}
    v = basak(parse_smiles("C"))
    pr = np.array([1, 4]) / 5
    ic0 = float(-(pr * np.log2(pr)).sum())
    assert v[14] == pytest.approx(ic0)
    assert v[15] == pytest.approx(ic0)  # same two classes at radius 1


# ----------------------------------------------------------- Burden

def test_burden_methane_hand_matrix():
    # CH4 H-graph: literal 5×5 Burden matrix per chem/burden.py — diag
    # [1.0, 0.084×4] (round(1.01/12.01, 3)), C-H entries 1.0, H-H 0.001
    M = np.full((5, 5), 0.001, dtype=np.float32)
    M[0, 0] = 1.0
    for h in range(1, 5):
        M[h, h] = round(1.01 / 12.01, 3)
        M[0, h] = M[h, 0] = 1.0
    ev = np.real(np.linalg.eigvals(M))
    pos = np.sort(ev[ev >= 0])
    neg = np.sort(np.abs(ev[ev < 0]))
    pos = np.concatenate((np.zeros(8), pos)) if len(pos) < 8 else pos
    neg = np.concatenate((np.zeros(8), neg)) if len(neg) < 8 else neg
    want = np.concatenate((neg[-8:], pos[-8:]))
    got = burden(parse_smiles("C"))
    np.testing.assert_allclose(got[48:64], want, rtol=0, atol=1e-6)  # bcutm
    assert len(got) == 64


def test_burden_add_hydrogens_shape():
    h = add_hydrogens(parse_smiles("CCO"))
    assert h.n_atoms == 9 and h.n_bonds == 8
    assert sum(1 for a in h.atoms if a.symbol == "H") == 6
    # aromatic ring keeps 1.5 orders in the H-graph (√1.5 entries)
    hb = add_hydrogens(parse_smiles("c1ccccc1"))
    assert sum(1 for b in hb.bonds if b.order == 1.5) == 6


# ------------------------------------------------- spark integration

def test_ligand_descriptors_ext_families_real(spark):
    from ifeatureomega_cli_spark.operators.ligand import (
        family_width, ligand_descriptors)

    df = spark.createDataFrame(
        [(0, "CCO"), (1, "Cn1cnc2c1c(=O)n(C)c(=O)n2C"), (2, "((bad")],
        "mol_id long, smiles string")
    for family, width in (("EState", 245), ("Autocorrelation-broto", 32),
                          ("Autocorrelation-moran", 32),
                          ("Autocorrelation-geary", 32), ("Basak", 21),
                          ("Burden", 64), ("E-state fingerprints", 79)):
        assert family_width(family) == width
        out = ligand_descriptors(df, family).orderBy("mol_id").collect()
        assert [r["valid"] for r in out] == [True, True, False], family
        assert len(out[0]["features"]) == width, family
        assert out[2]["features"] is None


# ------------------------------------------------------------- CATS

def test_cats_hand_ethanol():
    from ifeatureomega_cli_spark.functions.chemdesc_ext import (
        _cats_atom_types, cats2d)

    eth = parse_smiles("CCO")
    # O: donor (OH) + acceptor ([O]); methyl C: lipophilic (all-C
    # neighbors); CH2 touches O → not lipophilic
    assert _cats_atom_types(eth) == {
        "D": [2], "A": [2], "P": [], "N": [], "L": [0]}
    v = cats2d(eth)
    assert len(v) == 150
    # hand pair walk: PL0 self-pairs → LL, DD, DA, AA; PL2 (C0,O) →
    # DL, AL; every class total is 1 → scale-3 values all 1.0.  Sorted-
    # key positions: AA0=0, AL2=12, DA0=40, DD0=50, DL2=62, LL0=90.
    assert {i: x for i, x in enumerate(v) if x} == {
        0: 1.0, 12: 1.0, 40: 1.0, 50: 1.0, 62: 1.0, 90: 1.0}


def test_cats_acid_and_charge_types():
    from ifeatureomega_cli_spark.functions.chemdesc_ext import (
        _cats_atom_types)

    # carboxyl carbon is an N (negative-ionizable) PPP type
    t = _cats_atom_types(parse_smiles("CC(=O)O"))
    assert t["N"] == [1] and t["D"] == [3] and sorted(t["A"]) == [2, 3]
    # explicit charges
    t = _cats_atom_types(parse_smiles("CC(=O)[O-].[NH4+]"))
    assert 3 in t["N"] and 4 in t["P"]
    # thioether S is lipophilic (its methyls are not — they neighbor S)
    t = _cats_atom_types(parse_smiles("CSC"))
    assert t["L"] == [1]
    t = _cats_atom_types(parse_smiles("Cn1cnc2c1c(=O)n(C)c(=O)n2C"))
    assert len(t["A"]) == 6 and t["D"] == [] and t["L"] == []


def test_cats_spark_width(spark):
    from ifeatureomega_cli_spark.operators.ligand import (
        family_width, ligand_descriptors)

    assert family_width("Pharmacophore") == 150
    df = spark.createDataFrame([(0, "CC(=O)Oc1ccccc1C(=O)O")],
                               "mol_id long, smiles string")
    out = ligand_descriptors(df, "Pharmacophore").collect()
    assert out[0]["valid"] and len(out[0]["features"]) == 150


# --------------------------------- reference example-file end-to-end

def test_reference_example_smiles_all_graph_families(spark):
    """The bundled drug-like SMILES panel (fused heteroaromatic systems,
    nitro groups, thioureas, polycycles) runs through every real graph
    family — the workload a reference user brings."""
    from ifeatureomega_cli_spark.operators.ligand import (
        GRAPH_FAMILY_NAMES, family_width, ligand_descriptors, read_smiles)

    with open(SMILES_PANEL) as f:
        n_panel = sum(1 for line in f if line.strip())
    mols = read_smiles(spark, SMILES_PANEL)
    n = mols.count()
    assert n == n_panel
    for family in sorted(GRAPH_FAMILY_NAMES):
        out = ligand_descriptors(mols, family)
        rows = out.collect()
        assert len(rows) == n, family
        assert all(r["valid"] for r in rows), family
        w = family_width(family)
        assert all(len(r["features"]) == w for r in rows), family
        # every vector fully finite — no NaN/inf leaks from ring-heavy
        # molecules (log terms, eigensolves, entropy branches)
        feats = np.array([r["features"] for r in rows])
        assert np.isfinite(feats).all(), family
