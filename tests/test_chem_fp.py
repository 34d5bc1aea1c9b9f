"""Fixtures for the round-7 Morgan/ECFP-FCFP algorithmic core
(functions/chemdesc_fp.py).  Bit positions are behind the documented
hashing boundary; what these tests pin is the published algorithm's
STRUCTURE: invariant partitions, environment counting/dedup, layer
growth, determinism.  Conditional RDKit parity (partition + unfolded
id-count level) lives in tests/test_chem_rdkit_parity.py."""

from __future__ import annotations

import numpy as np
import pytest

from ifeatureomega_cli_spark.functions.chemdesc_fp import (
    connectivity_invariants, feature_invariants, morgan_fingerprint)
from ifeatureomega_cli_spark.functions.molgraph import parse_smiles
from tests.conftest import SMILES_PANEL


def _nenv(smi, radius, **kw):
    # environment/invariant count without folding collisions
    return int(morgan_fingerprint(parse_smiles(smi), radius,
                                  nbits=1 << 30, **kw).sum())


def test_connectivity_invariant_partitions():
    # benzene: one equivalence class; toluene: CH3 / substituted c / cH
    assert len(set(connectivity_invariants(parse_smiles("c1ccccc1")))) == 1
    assert len(set(connectivity_invariants(parse_smiles("Cc1ccccc1")))) == 3
    # isotope and charge split classes
    assert len(set(connectivity_invariants(parse_smiles("CC")))) == 1
    assert len(set(connectivity_invariants(parse_smiles("C[13CH3]")))) == 2
    assert len(set(connectivity_invariants(
        parse_smiles("CC(=O)[O-]")))) == 4


def test_ethanol_environment_count_hand():
    # r0: 3 distinct atom invariants; r1: three 1-hop environments, all
    # new; r2: both end atoms reach the full 2-bond environment, which
    # the MIDDLE atom already emitted at r1 → cross-round dedup, zero
    # new bits (RDKit's accumulated-neighborhood semantics)
    assert _nenv("CCO", 0) == 3
    assert _nenv("CCO", 1) == 6
    assert _nenv("CCO", 2) == 6


def test_benzene_environment_count_hand():
    # r0: 1 class; r1: all six 1-hop envs identical → 1 new; r2: all
    # six 2-hop envs identical → 1 new
    assert _nenv("c1ccccc1", 2) == 3


def test_fingerprint_basic_properties():
    a = morgan_fingerprint(parse_smiles("CCO"), 2)
    assert a.shape == (2048,)
    assert set(np.unique(a)) <= {0.0, 1.0}
    # SMILES-order invariance and molecule sensitivity
    assert np.array_equal(a, morgan_fingerprint(parse_smiles("OCC"), 2))
    assert not np.array_equal(
        a, morgan_fingerprint(parse_smiles("CCN"), 2))
    # radius growth only adds bits
    b3 = morgan_fingerprint(parse_smiles("CC(=O)Oc1ccccc1C(=O)O"), 3)
    b2 = morgan_fingerprint(parse_smiles("CC(=O)Oc1ccccc1C(=O)O"), 2)
    assert ((b2 == 1) <= (b3 == 1)).all()


def test_fcfp_feature_flags():
    # acetic acid: CH3 (no flags) / acid C (acidic) / =O (acceptor) /
    # OH (donor+acceptor-table OH) → 4 classes
    assert len(set(feature_invariants(parse_smiles("CC(=O)O")))) == 4
    # all six benzene carbons: aromatic only → one class
    assert len(set(feature_invariants(parse_smiles("c1ccccc1")))) == 1
    # FCFP merges atoms ECFP splits: in chlorobenzene every carbon is
    # aromatic-only (one class), Cl is halogen — two classes where
    # connectivity invariants give three
    fc = feature_invariants(parse_smiles("Clc1ccccc1"))
    assert len(set(fc)) == 2
    assert len(set(connectivity_invariants(
        parse_smiles("Clc1ccccc1")))) == 3


def test_fcfp_vs_ecfp_granularity():
    # feature invariants are coarser at r0 for a molecule whose atoms
    # differ only by element within one pharmacophore class
    smi = "CCCCO"
    assert len(set(feature_invariants(parse_smiles(smi)))) <= \
        len(set(connectivity_invariants(parse_smiles(smi))))


def test_family_kernels_route_real():
    from ifeatureomega_cli_spark.operators.ligand import (
        GRAPH_FAMILY_NAMES, family_width)
    for fam in ("Morgan-ECFP4 fingerprints", "Morgan-ECFP6 fingerprints",
                "Morgan-FCFP4 fingerprints", "Morgan-FCFP6 fingerprints"):
        assert fam in GRAPH_FAMILY_NAMES
        assert family_width(fam) == 2048
    # the reference's generic 'Morgan fingerprints' entry is dead there
    # (chem/__init__.py:244 comments the coder out) — stays a stub
    assert "Morgan fingerprints" not in GRAPH_FAMILY_NAMES


def test_reference_smiles_panel_all_compute():
    from ifeatureomega_cli_spark.functions.chemdesc_fp import FP_FAMILIES
    with open(SMILES_PANEL) as f:
        smis = [s.strip() for s in f if s.strip()]
    fps = []
    for s in smis:
        v = FP_FAMILIES["Morgan-ECFP4 fingerprints"](parse_smiles(s))
        assert v.shape == (2048,)
        assert 10 < v.sum() < 200, s     # drug-like density
        fps.append(v)
    # distinct drug-like molecules produce distinct fingerprints
    uniq = {tuple(np.nonzero(f)[0]) for f in fps}
    assert len(uniq) == len(smis)


def test_dead_atom_termination():
    # a 2-atom molecule saturates after layer 1; higher radius is a
    # no-op, not an error or an infinite loop
    assert _nenv("CC", 1) == _nenv("CC", 5)
