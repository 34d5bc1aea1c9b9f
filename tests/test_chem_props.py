"""Hand-verified fixtures for the round-7 'Molecular properties' family
(functions/chemdesc_props.py): Wildman-Crippen LogP/MR, Ertl TPSA,
Labute ASA, the reference's Hy/UI.  Conditional RDKit parity lives in
tests/test_chem_rdkit_parity.py.

LogP/MR targets are the published Wildman-Crippen table sums worked by
hand from the paper's atom types (several — benzene 1.6866, phenol
1.3922, ethanol −0.0014 — are also the values RDKit prints for these
molecules, pinning the transcription end-to-end)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from ifeatureomega_cli_spark.functions.chemdesc_props import (
    _CRIPPEN, _Env, _crippen_type, crippen_contribs, hydrophilicity_factor,
    labute_asa, labute_asa_contribs, mol_logp, mol_mr,
    molecular_properties, tpsa, unsaturation_index)
from ifeatureomega_cli_spark.functions.molgraph import parse_smiles
from tests.conftest import SMILES_PANEL


def _types(smi):
    mol = parse_smiles(smi)
    env = _Env(mol)
    return [_crippen_type(env, i) for i in range(mol.n_atoms)]


# ---------------------------------------------------------- Crippen types

def test_crippen_types_ethanol():
    # CH3 → C1, CH2 (hetero-attached sp3) → C3, OH → O2
    assert _types("CCO") == ["C1", "C3", "O2"]


def test_crippen_types_benzene_toluene():
    assert _types("c1ccccc1") == ["C18"] * 6
    assert _types("Cc1ccccc1") == ["C8", "C21"] + ["C18"] * 5


def test_crippen_types_carbonyls():
    # acetic acid: CH3 → C1, C=O carbon → C5, =O → O9, OH → O2
    assert _types("CC(=O)O") == ["C1", "C5", "O9", "O2"]
    # acetophenone: aromatic-substituted carbonyl O → O10
    assert _types("CC(=O)c1ccccc1")[2] == "O10"
    # urea: both substituents non-carbon → O11
    assert _types("NC(=O)N") == ["N1", "C5", "O11", "N1"]
    # carboxylate terminal O⁻ → O12 (the published order flip vs O7)
    assert _types("CC(=O)[O-]")[3] == "O12"


def test_crippen_types_nitrogen():
    assert _types("CN") == ["C3", "N1"]          # methylamine
    assert _types("CNC") == ["C3", "N2", "C3"]   # dimethylamine
    assert _types("CN(C)C")[1] == "N7"           # trimethylamine
    assert _types("Nc1ccccc1")[0] == "N3"        # aniline
    assert _types("C[NH3+]")[1] == "N10"         # protonated amine
    assert _types("c1ccncc1")[3] == "N11"        # pyridine n
    assert _types("CC#N")[2] == "N9"             # nitrile N
    # charge-separated nitro N → N13
    assert _types("O=[N+]([O-])c1ccccc1")[1] == "N13"


def test_crippen_types_sulfur_order_flip():
    # neutral S double-bonded to O matches S2 before S1 (published flip)
    assert _types("CS(=O)C")[1] == "S2"
    assert _types("CSC")[1] == "S1"
    assert _types("c1ccsc1")[3] == "S3"


def test_crippen_logp_published_sums():
    for smi, want in [
        ("c1ccccc1", 1.6866),            # 6·C18 + 6·H1
        ("CCO", -0.0014),                # C1 + C3 + O2 + 5·H1 + H2
        ("Oc1ccccc1", 1.3922),           # O2 + C23 + 5·C18 + H2 + 5·H1
        ("CC(=O)O", 0.0909),             # C1 + C5 + O9 + O2 + 3·H1 + H4
        ("O=[N+]([O-])c1ccccc1", 1.5948),
        ("c1ccc2ccccc2c1", 2.8398),      # 8·C18 + 2·C19 + 8·H1
        ("C1CCCCC1", 6 * 0.1441 + 12 * 0.123),
        ("Cc1ccccc1", 0.08452 + 0.136 + 5 * 0.1581 + 8 * 0.123),
        ("Nc1ccccc1", -1.027 + 0.4619 + 5 * 0.1581 + 5 * 0.123
         + 2 * 0.2142),
        ("c1ccncc1", -0.3239 + 5 * 0.1581 + 5 * 0.123),
    ]:
        assert mol_logp(parse_smiles(smi)) == pytest.approx(want, abs=1e-4)


def test_crippen_mr_published_sums():
    assert mol_mr(parse_smiles("c1ccccc1")) == pytest.approx(26.442, abs=1e-3)
    # acetonitrile: C1 + C7 + N9 + 3·H1
    assert mol_mr(parse_smiles("CC#N")) == pytest.approx(
        2.503 + 3.888 + 1.725 + 3 * 1.057, abs=1e-3)


def test_crippen_contribs_fold_hydrogens():
    # per-heavy contributions carry the implicit Hs: ethanol O row is
    # O2 + one H2
    c = crippen_contribs(parse_smiles("CCO"))
    assert c[2, 0] == pytest.approx(-0.2893 - 0.2677, abs=1e-6)
    assert c.shape == (3, 2)


# ------------------------------------------------------------------ TPSA

def test_tpsa_published_values():
    for smi, want in [
        ("CC(=O)Oc1ccccc1C(=O)O", 63.60),   # aspirin
        ("c1ccccc1", 0.0),
        ("c1ccncc1", 12.89),                # pyridine
        ("Nc1ccccc1", 26.02),               # aniline
        ("Oc1ccccc1", 20.23),               # phenol
        ("c1cc[nH]c1", 15.79),              # pyrrole
        ("c1c[nH]cn1", 28.68),              # imidazole
        ("O1CCNCC1", 21.26),                # morpholine
        ("CC(=O)O", 37.30),                 # acetic acid
        ("CC#N", 23.79),                    # acetonitrile
    ]:
        assert tpsa(parse_smiles(smi)) == pytest.approx(want, abs=1e-2), smi


def test_tpsa_nitro_representation_sensitivity():
    # Ertl's table scores the two nitro representations differently —
    # charge-separated hits the charged-N/anionic-O rows, hypervalent
    # hits N(-*)(=*)=* + two carbonyl O — exactly as a table-driven
    # implementation must
    assert tpsa(parse_smiles("O=[N+]([O-])c1ccccc1")) == pytest.approx(
        3.01 + 17.07 + 23.06, abs=1e-2)
    assert tpsa(parse_smiles("O=N(=O)c1ccccc1")) == pytest.approx(
        11.68 + 2 * 17.07, abs=1e-2)


def test_tpsa_three_ring_variants():
    # aziridine / oxirane take the dedicated 3-ring rows
    assert tpsa(parse_smiles("C1CN1")) == pytest.approx(21.94, abs=1e-2)
    assert tpsa(parse_smiles("C1CO1")) == pytest.approx(12.53, abs=1e-2)


def test_tpsa_kekule_caffeine():
    # as-written Kekulé caffeine: 3 amine-type N (3.24) + imine N
    # (12.36) + 2 carbonyl O (17.07)
    v = tpsa(parse_smiles("CN1C=NC2=C1C(=O)N(C(=O)N2C)C"))
    assert v == pytest.approx(3 * 3.24 + 12.36 + 2 * 17.07, abs=1e-2)


# ------------------------------------------------------------ Labute ASA

def test_labute_asa_benzene_hand():
    # per aromatic C (r=0.77): 4πr² − 2 aromatic caps (d=1.44) − 1 H cap
    # (d=1.10); worked by hand:
    r, rh = 0.77, 0.33
    cap_ar = math.pi * r * (2 * r - 1.44)                    # symmetric
    d_ch = r + rh
    cap_h = math.pi * r * (2 * r - d_ch + (rh**2 - r**2) / d_ch)
    c_area = 4 * math.pi * r * r - 2 * cap_ar - cap_h
    cap_on_h = math.pi * rh * (2 * rh - d_ch + (r**2 - rh**2) / d_ch)
    h_area = 4 * math.pi * rh * rh - cap_on_h
    want = 6 * (c_area + h_area)
    assert labute_asa(parse_smiles("c1ccccc1")) == pytest.approx(
        want, abs=1e-9)
    heavy, hc = labute_asa_contribs(parse_smiles("c1ccccc1"))
    np.testing.assert_allclose(heavy, [c_area] * 6)
    assert hc == pytest.approx(6 * h_area)


def test_labute_asa_heavy_contribs_in_vsa_bin_range():
    # the per-heavy-atom areas are the quantity RDKit's published
    # VSA_EState bins (4.78-11 Å²) partition — every ordinary organic
    # heavy atom must land in or near that window
    for smi in ["CCO", "CC(=O)Oc1ccccc1C(=O)O", "CCCCCC", "c1ccncc1"]:
        heavy, _ = labute_asa_contribs(parse_smiles(smi))
        assert ((heavy > 2.0) & (heavy < 13.0)).all(), (smi, heavy)


def test_labute_asa_monotone_in_size():
    sizes = [labute_asa(parse_smiles("C" * k)) for k in (1, 2, 4, 8)]
    assert sizes == sorted(sizes)
    assert sizes[0] == pytest.approx(
        4 * math.pi * 0.77**2 - 4 * (math.pi * 0.77 * (
            2 * 0.77 - 1.10 + (0.33**2 - 0.77**2) / 1.10))
        + 4 * (4 * math.pi * 0.33**2 - math.pi * 0.33 * (
            2 * 0.33 - 1.10 + (0.77**2 - 0.33**2) / 1.10)), abs=1e-9)


# ---------------------------------------------------------------- Hy / UI

def test_unsaturation_index():
    assert unsaturation_index(parse_smiles("c1ccccc1")) == round(
        math.log2(7), 3)  # 6 aromatic bonds
    assert unsaturation_index(parse_smiles("CCCC")) == 0.0
    assert unsaturation_index(parse_smiles("C=CC=C")) == round(
        math.log2(3), 3)


def test_hydrophilicity_factor_quirks():
    # nhy = 0 for any normal SMILES (no explicit-H neighbor atoms), so
    # Hy = nc·(1/nheavy)·log2(1/nheavy)
    assert hydrophilicity_factor(parse_smiles("CCO")) == round(
        2 * (1 / 3) * math.log2(1 / 3), 3)
    # nheavy == 2 → the reference's `nheavy ^ 2` XOR divides by zero;
    # engine maps that to NaN instead of a task failure
    assert math.isnan(hydrophilicity_factor(parse_smiles("CO")))
    # nheavy == 1: XOR gives 3, term is √0 — finite
    assert hydrophilicity_factor(parse_smiles("C")) == round(
        1 * math.log2(1.0) / 1, 3)


# ------------------------------------------------------------ family glue

def test_molecular_properties_family_vector():
    v = molecular_properties(parse_smiles("CC(=O)Oc1ccccc1C(=O)O"))
    assert v.shape == (6,)
    assert v[0] == pytest.approx(mol_logp(
        parse_smiles("CC(=O)Oc1ccccc1C(=O)O")))
    assert v[3] == pytest.approx(63.60, abs=1e-2)
    assert np.isfinite(v).all()


def test_reference_smiles_panel_all_compute():
    with open(SMILES_PANEL) as f:
        for line in f:
            s = line.strip()
            if not s:
                continue
            v = molecular_properties(parse_smiles(s))
            assert v.shape == (6,)
            assert np.isfinite(v).all(), s
            assert v[2] > 0 and v[3] >= 0, s


def test_every_crippen_type_has_contribution():
    for t, (lp, mr) in _CRIPPEN.items():
        assert isinstance(lp, float) and isinstance(mr, float)


def test_ligand_family_routes_real(tmp_path):
    # the Spark operator path: Molecular properties is a graph family
    from ifeatureomega_cli_spark.operators.ligand import (
        GRAPH_FAMILY_NAMES, LIGAND_FAMILIES, family_width)
    assert "Molecular properties" in GRAPH_FAMILY_NAMES
    assert family_width("Molecular properties") == 6
    assert LIGAND_FAMILIES["Molecular properties"] == [
        "LogP", "MR", "LabuteASA", "TPSA", "Hy", "UI"]


# ---------------------------------------------------------------- Moe-Type

def test_moe_type_width_and_partition_invariants():
    from ifeatureomega_cli_spark.functions.chemdesc_props import (
        labute_asa_contribs, moe_type)
    mol = parse_smiles("CC(=O)Oc1ccccc1C(=O)O")
    v = moe_type(mol)
    assert v.shape == (59,)
    heavy, hc = labute_asa_contribs(mol)
    tot = heavy.sum()
    # every VSA-weighted histogram partitions the same total area
    for lo, hi in ((2, 14), (14, 24), (24, 38), (38, 49)):
        assert v[lo:hi].sum() == pytest.approx(tot), (lo, hi)
    # scalar slots are the family's own LabuteASA / TPSA
    assert v[0] == pytest.approx(tot + hc)
    assert v[1] == pytest.approx(63.60, abs=1e-2)


def test_moe_bin_boundary_semantics():
    # lower_bound: a property exactly on a boundary falls in the LOWER
    # slot (slot k covers (b_{k-1}, b_k])
    from ifeatureomega_cli_spark.functions.chemdesc_props import (
        _SLOGP_BINS, _binned_sum)
    out = _binned_sum(np.array([-0.4, 0.0, 0.6, 0.61]),
                      np.array([1.0, 1.0, 1.0, 1.0]), _SLOGP_BINS)
    assert out[0] == 1.0       # -0.4 is the first boundary → slot 0
    assert out[2] == 1.0       # 0.0 boundary → slot 2
    assert out[10] == 1.0      # 0.6 boundary → slot 10
    assert out[11] == 1.0      # beyond the last boundary → overflow slot


def test_moe_type_routes_real():
    from ifeatureomega_cli_spark.operators.ligand import (
        GRAPH_FAMILY_NAMES, family_width)
    assert "Moe-Type descriptors" in GRAPH_FAMILY_NAMES
    assert family_width("Moe-Type descriptors") == 59


def test_moe_type_reference_panel():
    from ifeatureomega_cli_spark.functions.chemdesc_props import moe_type
    with open(SMILES_PANEL) as f:
        for line in f:
            s = line.strip()
            if not s:
                continue
            v = moe_type(parse_smiles(s))
            assert v.shape == (59,) and np.isfinite(v).all(), s
