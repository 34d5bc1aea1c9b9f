"""Fixtures for the round-7 'Charge' family
(functions/chemdesc_charge.py): Gasteiger-Marsili PEOE charges.

Anchors are the published values (Gasteiger & Marsili 1980; identical
numbers are what RDKit's ComputeGasteigerCharges prints for these
molecules): methane C −0.0776 / H +0.0194, fluoromethane C +0.079 /
F −0.255, benzene C −0.062.  A differential hand-iteration test
re-derives methane with plain scalar arithmetic, independent of the
vectorized kernel.  Conditional RDKit parity lives in
tests/test_chem_rdkit_parity.py."""

from __future__ import annotations

import math

import numpy as np
import pytest

from ifeatureomega_cli_spark.functions.chemdesc_charge import (
    _all_charges, charge_descriptors, gasteiger_charges)
from ifeatureomega_cli_spark.functions.molgraph import parse_smiles
from tests.conftest import SMILES_PANEL


def test_methane_published_anchor():
    q, qh = gasteiger_charges(parse_smiles("C"))
    assert q[0] == pytest.approx(-0.0776, abs=2e-3)
    assert qh[0] == pytest.approx(0.0194, abs=5e-4)
    assert q[0] + 4 * qh[0] == pytest.approx(0.0, abs=1e-12)


def test_methane_differential_hand_iteration():
    # independent scalar re-derivation: C sp3 (7.98, 9.18, 1.88),
    # H (7.17, 6.24, -0.56); Δq = (χ_hi − χ_lo)/χ⁺_lo · ½ⁿ where χ⁺ is
    # the CURRENT less-electronegative end's cation electronegativity
    # (χ⁺(H) = 20.02, χ⁺(C sp3) = 7.98+9.18+1.88) — after the first
    # iterations overshoot, the direction flips and the denominator
    # switches with it
    qc, qh = 0.0, 0.0
    for it in range(12):
        damp = 0.5 ** (it + 1)
        chic = 7.98 + 9.18 * qc + 1.88 * qc * qc
        chih = 7.17 + 6.24 * qh - 0.56 * qh * qh
        if chic >= chih:
            d = (chic - chih) / 20.02 * damp
        else:
            d = (chic - chih) / (7.98 + 9.18 + 1.88) * damp
        qc -= 4 * d
        qh += d
    q, q_h = gasteiger_charges(parse_smiles("C"))
    assert q[0] == pytest.approx(qc, abs=1e-12)
    assert q_h[0] == pytest.approx(qh, abs=1e-12)


def test_fluoromethane_and_benzene_anchors():
    q, qh = gasteiger_charges(parse_smiles("CF"))
    assert q[0] == pytest.approx(0.079, abs=2e-3)
    assert q[1] == pytest.approx(-0.255, abs=2e-3)
    q, qh = gasteiger_charges(parse_smiles("c1ccccc1"))
    np.testing.assert_allclose(q, q[0])
    assert q[0] == pytest.approx(-0.062, abs=1e-3)
    assert q[0] + qh[0] == pytest.approx(0.0, abs=1e-12)


def test_electronegativity_ordering_and_conservation():
    # methanol: O pulls electrons; O-H proton is the most positive H
    q, qh = gasteiger_charges(parse_smiles("CO"))
    assert q[1] < -0.3 and q[0] > 0
    assert qh[1] > qh[0]
    qs, zs = _all_charges(parse_smiles("CC(=O)[O-]"))
    assert qs.sum() == pytest.approx(-1.0, abs=1e-9)
    qs, zs = _all_charges(parse_smiles("C[NH3+]"))
    assert qs.sum() == pytest.approx(1.0, abs=1e-9)


def test_symmetry_equivalence():
    q, qh = gasteiger_charges(parse_smiles("CC(C)C"))  # isobutane
    assert q[0] == pytest.approx(q[2]) and q[0] == pytest.approx(q[3])
    q, qh = gasteiger_charges(parse_smiles("O=C=O"))
    assert q[0] == pytest.approx(q[2])
    assert q[1] > 0 > q[0]


def test_charge_family_quirks():
    d = dict(zip(
        ["SPP", "LDI", "Rnc", "Rpc", "Mac", "Tac", "Mnc", "Tnc", "Mpc",
         "Tpc", "Qass", "QOss", "QNss", "QCss", "QHss", "Qmin", "QOmin",
         "QNmin", "QCmin", "QHmin", "Qmax", "QOmax", "QNmax", "QCmax",
         "QHmax"],
        charge_descriptors(parse_smiles("CC(=O)O"))))
    qs, zs = _all_charges(parse_smiles("CC(=O)O"))
    # SPP = round(max − min, 3)
    assert d["SPP"] == round(float(qs.max() - qs.min()), 3)
    # the QO*/QC* element-label swap: QNss is 0 (no N); QCss sums the
    # OXYGEN squares, QOss the CARBON squares
    assert d["QNss"] == 0.0 and d["QNmin"] == 0.0 and d["QNmax"] == 0.0
    assert d["QCss"] == pytest.approx(float((qs[zs == 8] ** 2).sum()))
    assert d["QOss"] == pytest.approx(float((qs[zs == 6] ** 2).sum()))
    # Rnc/Rpc use max(arr) in the numerator (the source quirk)
    assert d["Rnc"] == pytest.approx(
        float(qs.max() / qs[qs < 0].sum()))
    assert d["Rpc"] == pytest.approx(
        float(qs.max() / qs[qs > 0].sum()))
    assert d["Tac"] == pytest.approx(float(np.abs(qs).sum()))
    # conservation: Tpc + Tnc = formal charge
    assert d["Tpc"] + d["Tnc"] == pytest.approx(0.0, abs=1e-9)


def test_ldi_mean_bond_charge_gap():
    mol = parse_smiles("CC(=O)O")
    q, _ = gasteiger_charges(mol)
    want = round(sum(abs(q[b.a] - q[b.b]) for b in mol.bonds)
                 / len(mol.bonds), 3)
    d = charge_descriptors(mol)
    assert d[1] == want
    # bond-free molecule: reference raises ZeroDivisionError; engine
    # yields NaN (documented)
    assert math.isnan(charge_descriptors(parse_smiles("C"))[1])


def test_empty_signed_selections():
    # methane has no negative H charges and no O/N — the reference's
    # numpy semantics (empty sum → 0, empty mean → nan, max/0 → ±inf)
    # flow through
    d = dict(zip(
        ["SPP", "LDI", "Rnc", "Rpc", "Mac", "Tac", "Mnc", "Tnc", "Mpc",
         "Tpc", "Qass", "QOss", "QNss", "QCss", "QHss", "Qmin", "QOmin",
         "QNmin", "QCmin", "QHmin", "Qmax", "QOmax", "QNmax", "QCmax",
         "QHmax"],
        charge_descriptors(parse_smiles("C"))))
    assert d["QCss"] == 0.0                      # no oxygen
    assert d["QHmax"] == pytest.approx(0.0194, abs=5e-4)
    assert d["Qmin"] == pytest.approx(-0.0776, abs=2e-3)


def test_reference_smiles_panel_all_compute():
    with open(SMILES_PANEL) as f:
        for line in f:
            s = line.strip()
            if not s:
                continue
            v = charge_descriptors(parse_smiles(s))
            assert v.shape == (25,)
            # SPP/LDI and the squared sums must be finite and sane on
            # real drug-like molecules
            assert np.isfinite(v[[0, 1, 4, 5, 10]]).all(), s
            assert v[0] > 0, s


def test_ligand_family_routes_real():
    from ifeatureomega_cli_spark.operators.ligand import (
        GRAPH_FAMILY_NAMES, family_width)
    assert "Charge" in GRAPH_FAMILY_NAMES
    assert family_width("Charge") == 25
