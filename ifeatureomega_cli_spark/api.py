"""High-level façade mirroring the reference's user workflow
(iFeatureOmegaCLI.py: iProtein/iDNA/iRNA classes) on Spark.

Reference usage                         →  Spark-native equivalent
-----------------------------------------------------------------
p = iProtein("x.fasta")                 →  p = ProteinDataset(spark, "x.fasta")
p.import_parameters("Protein_...json")  →  p.import_parameters("Protein_...json")
p.get_descriptor("AAC")                 →  df = p.get_descriptor("AAC")
p.encodings                             →  df (lazy DataFrame, features array)
p.to_csv("enc.csv")                     →  p.to_csv(df, "out_dir")
p.display_feature_types()               →  p.display_feature_types()

The DataFrame stays lazy/distributed; `.to_pandas_matrix()` collects the
reference-shaped pandas frame (SampleName index × named columns) for
drop-in parity at small scale.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ifeatureomega_cli_spark.functions.extract import (
    _discover_length, extract, feature_names)
from ifeatureomega_cli_spark.functions.registry import descriptor_names, get_spec
from ifeatureomega_cli_spark import sinks


class SequenceDataset:
    seq_type = "protein"

    def __init__(self, spark: SparkSession, source: str | DataFrame):
        """`source`: a FASTA path, a parquet path of a tokenized table, or a
        DataFrame with (doc_id, tokens, n_tok, ...)."""
        self.spark = spark
        if isinstance(source, DataFrame):
            self.df = source
        elif str(source).endswith((".parquet", "/")) :
            self.df = spark.read.parquet(str(source))
        else:
            from ifeatureomega_cli_spark.sources.fasta import read_fasta

            self.df = read_fasta(spark, str(source), seq_type=self.seq_type)
        self._params: dict[str, dict] = {}

    # -- reference-parity surface --------------------------------------

    def import_parameters(self, path: str) -> bool:
        """Load a reference parameter-settings JSON verbatim (ref :303-311)."""
        with open(path) as f:
            self._params.update(json.load(f))
        return True

    def display_feature_types(self) -> list[str]:
        names = descriptor_names(self.seq_type)
        for n in names:
            print(n.split(":", 1)[1])
        return [n.split(":", 1)[1] for n in names]

    def get_descriptor(self, name: str, params: dict | None = None,
                       out_col: str = "features") -> DataFrame:
        key = f"{self.seq_type}:{name}"
        if name in ("PSTNPss", "PSTNPds"):
            from ifeatureomega_cli_spark.operators.crosssample import pstnp

            return pstnp(self.df, double_strand=(name == "PSTNPds"))
        if name == "KNN":
            from ifeatureomega_cli_spark.operators.crosssample import knn_features

            st = "protein" if self.seq_type == "protein" else "dna"
            return knn_features(self.df, st)
        cfg = {**self._params.get(name, {}), **(params or {})}
        return extract(self.df, key, cfg or None, out_col=out_col)

    def feature_names(self, name: str, params: dict | None = None,
                      length: int = 0) -> list[str]:
        cfg = {**self._params.get(name, {}), **(params or {})}
        if not length and get_spec(f"{self.seq_type}:{name}").equal_length:
            length = _discover_length(self.df, "n_tok")
        return feature_names(f"{self.seq_type}:{name}", cfg or None, length)

    # -- sinks ----------------------------------------------------------

    def to_csv(self, df: DataFrame, path: str, name: str | None = None) -> None:
        names = self.feature_names(name) if name else None
        sinks.write_csv(df.select("doc_id", "features"), path, names=names)

    def to_tsv(self, df: DataFrame, path: str, name: str | None = None) -> None:
        names = self.feature_names(name) if name else None
        sinks.write_tsv(df.select("doc_id", "features"), path, names=names)

    def to_svm(self, df: DataFrame, path: str) -> None:
        sinks.write_svm(df.select("label", "features"), path)

    def to_arff(self, df: DataFrame, path: str) -> None:
        sinks.write_arff(df.select("label", "features"), path)

    def to_pandas_matrix(self, df: DataFrame, name: str,
                         params: dict | None = None) -> pd.DataFrame:
        """Reference-shaped pandas frame: SampleName index, named columns."""
        pdf = df.select("doc_id", "features").toPandas()
        cols = self.feature_names(name, params)
        out = pd.DataFrame(pdf["features"].tolist(), columns=cols,
                           index=pdf["doc_id"])
        out.index.name = None
        return out


class ProteinDataset(SequenceDataset):
    seq_type = "protein"


class DNADataset(SequenceDataset):
    seq_type = "dna"


class RNADataset(SequenceDataset):
    seq_type = "rna"


class Analysis:
    """Façade mirroring the reference's iAnalysis class
    (iFeatureOmegaCLI.py:9951-10310) over a `features array<double>`
    DataFrame:

    Reference usage                     →  Spark-native equivalent
    -------------------------------------------------------------
    data = iAnalysis(df)                →  a = Analysis(features_df)
    data.kmeans(nclusters=3)            →  a.kmeans(nclusters=3)
    data.cluster_result                 →  a.cluster_result  (DataFrame)
    data.DBSCAN() / data.APC() / ...    →  a.DBSCAN() / a.APC() / ...
    data.t_sne(2) / data.PCA(2) / LDA   →  a.t_sne(2) / a.PCA(2) / a.LDA(2)
    data.ZScore() / data.MinMax()       →  a.ZScore() / a.MinMax()
    data.cluster_to_csv(file)           →  a.cluster_to_csv(dir)

    Methods return True/False and set the same result attributes as the
    reference (every result stays a lazy DataFrame).  Clusterer scale
    notes live in analysis.py — the sklearn-equivalent fit runs on a
    bounded seeded sample, assignment is distributed.
    """

    def __init__(self, df: DataFrame, features_col: str = "features",
                 id_col: str = "doc_id"):
        self.dataframe = df
        self._fc = features_col
        self._id = id_col
        self.cluster_result: DataFrame | None = None
        self.dimension_reduction_result: DataFrame | None = None
        self.feature_normalization_data: DataFrame | None = None
        self.error_msg: str | None = None

    # -- shared runner: reference contract is True/False + error_msg ------

    def _run(self, attr: str, fn, select_cols, **kw) -> bool:
        try:
            out = fn(self.dataframe, features_col=self._fc, **kw)
            setattr(self, attr, out.select(self._id, *select_cols))
            return True
        except Exception as e:
            self.error_msg = str(e)
            return False

    def _cluster(self, fn, **kw) -> bool:
        return self._run("cluster_result", fn, ["cluster"], **kw)

    # -- clustering ------------------------------------------------------

    def kmeans(self, nclusters: int = 2) -> bool:
        from ifeatureomega_cli_spark import analysis as A
        return self._run("cluster_result",
                         lambda df, features_col: A.kmeans(
                             df, nclusters, features_col=features_col),
                         ["cluster"])

    def MiniBatchKMeans(self, nclusters: int = 2) -> bool:
        from ifeatureomega_cli_spark import analysis as A
        return self._run("cluster_result",
                         lambda df, features_col: A.minibatch_kmeans(
                             df, nclusters, features_col=features_col),
                         ["cluster"])

    def GM(self, nclusters: int = 2) -> bool:
        from ifeatureomega_cli_spark import analysis as A
        return self._run("cluster_result",
                         lambda df, features_col: A.gaussian_mixture(
                             df, nclusters, features_col=features_col),
                         ["cluster"])

    def Agglomerative(self, nclusters: int = 2) -> bool:
        from ifeatureomega_cli_spark import analysis as A
        return self._cluster(A.agglomerative, n_clusters=nclusters,
                             id_col=self._id)

    def Spectral(self, nclusters: int = 2) -> bool:
        from ifeatureomega_cli_spark import analysis as A
        return self._cluster(A.spectral, n_clusters=nclusters, id_col=self._id)

    def MCL(self, expand: float = 2.0, inflate: float = 2.0,
            multiply: float = 2.0, max_loop: int = 1000) -> bool:
        from ifeatureomega_cli_spark import analysis as A
        return self._cluster(A.mcl, expand_factor=int(expand),
                             inflate_factor=float(inflate),
                             mult_factor=float(multiply),
                             max_loop=max_loop, id_col=self._id)

    def hcluster(self) -> bool:
        from ifeatureomega_cli_spark import analysis as A
        return self._cluster(A.hcluster, id_col=self._id)

    def APC(self, damping: float = 0.9) -> bool:
        """Affinity propagation.  NOTE: the reference's sklearn default is
        damping=0.5; the default here is 0.9 (0.5 can oscillate without
        sklearn's exact noise RNG) — pass damping=0.5 for the reference's
        parameterization (labels may still differ at convergence)."""
        from ifeatureomega_cli_spark import analysis as A
        return self._cluster(A.affinity_propagation, id_col=self._id,
                             damping=damping)

    def meanshift(self) -> bool:
        from ifeatureomega_cli_spark import analysis as A
        return self._cluster(A.meanshift, id_col=self._id)

    def DBSCAN(self) -> bool:
        from ifeatureomega_cli_spark import analysis as A
        return self._cluster(A.dbscan, id_col=self._id)

    # -- dimensionality reduction -----------------------------------------

    def t_sne(self, n_components: int = 2) -> bool:
        from ifeatureomega_cli_spark import analysis as A
        try:
            # t-SNE output covers the fitted sample only (no transform)
            self.dimension_reduction_result = A.tsne(
                self.dataframe, n_components, features_col=self._fc,
                id_col=self._id)
            return True
        except Exception as e:
            self.error_msg = str(e)
            return False

    def PCA(self, n_components: int = 2) -> bool:
        from ifeatureomega_cli_spark import analysis as A
        return self._run("dimension_reduction_result",
                         lambda df, features_col: A.pca(
                             df, n_components, features_col=features_col),
                         ["pca_features"])

    def LDA(self, n_components: int = 2) -> bool:
        from ifeatureomega_cli_spark import analysis as A
        return self._run("dimension_reduction_result",
                         lambda df, features_col: A.lda_reduce(
                             df, n_components, features_col=features_col,
                             id_col=self._id),
                         ["lda_features"])

    # -- normalization -----------------------------------------------------

    def ZScore(self) -> bool:
        from ifeatureomega_cli_spark import analysis as A
        return self._run("feature_normalization_data", A.zscore_ref,
                         ["scaled_features"])

    def MinMax(self) -> bool:
        from ifeatureomega_cli_spark import analysis as A
        return self._run("feature_normalization_data", A.minmax_ref,
                         ["scaled_features"])

    # -- sinks (reference *_to_csv) ----------------------------------------

    def cluster_to_csv(self, file: str = "cluster_result") -> None:
        if self.cluster_result is not None:
            sinks.write_csv(self.cluster_result, file)

    def dimension_to_csv(self, file: str = "dimension_reduction_result") -> None:
        if self.dimension_reduction_result is not None:
            df = self.dimension_reduction_result
            arr = [c for c, t in df.dtypes if t.startswith("array")]
            for c in arr:
                df = df.withColumn(c, F.col(c).cast("string"))
            sinks.write_csv(df, file)

    def normalization_to_csv(self, file: str = "feature_normalization") -> None:
        if self.feature_normalization_data is not None:
            sinks.write_csv(self.feature_normalization_data, file)



class StructureDataset:
    """Façade mirroring the reference's iStructure class
    (iFeatureOmegaCLI.py:8976-9786) over the pure-geometry PDB pipeline.

    Reference usage                         →  Spark-native equivalent
    -----------------------------------------------------------------
    s = iStructure("1iir.pdb")              →  s = StructureDataset(spark, "1iir.pdb")
    s.import_parameters("Structure_...json")→  same (shell/distance settings)
    s.get_descriptor("AAC_type1")           →  df = s.get_descriptor("AAC_type1")
    s.encodings                             →  s.encodings (lazy DataFrame)
    s.display_feature_types()               →  same

    Accepts a single .pdb path, a glob of many (distributed parse — one
    task per file), or a pre-parsed atoms DataFrame.  SS3/SS8 need
    per-residue DSSP letters and Residue depth needs a surface point
    cloud — the DSSP/MSMS binaries that produce them are not bundled, so
    attach precomputed inputs first
    (`attach_secondary_structure(df)` with (pdb_id, chain, resseq, ss);
    `attach_surface(df)` with (pdb_id, x, y, z) — e.g. from
    sources.pdb.read_msms_vert); without them those descriptors raise
    NotImplementedError with the citation.
    """

    _TYPES = ["AAC_type1", "AAC_type2", "GAAC_type1", "GAAC_type2",
              "SS3_type1", "SS3_type2", "SS8_type1", "SS8_type2",
              "HSE_CA", "HSE_CB", "Residue depth", "AC_type1", "AC_type2",
              "Network-based index"]

    def __init__(self, spark: SparkSession, source: str | DataFrame):
        from ifeatureomega_cli_spark.sources.pdb import read_pdb, read_pdb_dir

        import os as _os

        self.spark = spark
        if isinstance(source, DataFrame):
            self.atoms = source
        elif _os.path.isfile(str(source)):
            # any single existing file parses directly (.pdb/.ent fixed
            # width, .cif by extension) — never silently filtered away
            self.atoms = read_pdb(spark, str(source))
        else:
            self.atoms = read_pdb_dir(spark, str(source))
        self.encodings: DataFrame | None = None
        self.error_msg: str | None = None
        self._params: dict[str, dict] = {}
        self._ss: DataFrame | None = None
        self._surface: DataFrame | None = None

    def attach_secondary_structure(self, ss: DataFrame) -> "StructureDataset":
        """Attach per-residue DSSP 8-state letters: (pdb_id, chain,
        resseq[, icode], ss) — from precomputed DSSP runs or a
        predictor.  Enables SS3/SS8_type1/2."""
        self._ss = ss
        return self

    def attach_surface(self, surface: DataFrame) -> "StructureDataset":
        """Attach a molecular-surface point cloud: (pdb_id, x, y, z) —
        e.g. sources.pdb.read_msms_vert over precomputed MSMS .vert
        files.  Enables Residue depth."""
        self._surface = surface
        return self

    def import_parameters(self, path: str) -> bool:
        """Reference Structure_parameters_setting.json verbatim
        (ref :9728-9736)."""
        with open(path) as f:
            self._params.update(json.load(f))
        return True

    def display_feature_types(self) -> list[str]:
        for t in self._TYPES:
            print(t)
        return list(self._TYPES)

    def get_descriptor(self, name: str = "AAC_type1",
                       params: dict | None = None) -> DataFrame:
        from ifeatureomega_cli_spark import structure_ligand as SL
        from ifeatureomega_cli_spark.operators.structure import (
            atom_shell_composition, hse, network_metrics,
            residue_shell_composition)
        from ifeatureomega_cli_spark.sources.pdb import residue_table

        cfg = {**self._params.get(name, {}), **(params or {})}
        if name in ("AAC_type1", "AAC_type2", "GAAC_type1", "GAAC_type2"):
            kind = name.split("_")[0]
            out = residue_shell_composition(
                residue_table(self.atoms), kind=kind,
                type2=name.endswith("type2"),
                shell=tuple(cfg.get("shell", (3, 20, 2))))
        elif name in ("AC_type1", "AC_type2"):
            out = atom_shell_composition(
                self.atoms, type2=name.endswith("type2"),
                shell=tuple(cfg.get("shell", (1, 10, 1))))
        elif name in ("HSE_CA", "HSE_CB"):
            out = hse(self.atoms, kind=name.split("_")[1])
        elif name == "Network-based index":
            out = network_metrics(residue_table(self.atoms),
                                  cutoff=float(cfg.get("distance", 11)))
        elif name in ("SS3_type1", "SS3_type2", "SS8_type1", "SS8_type2"):
            if self._ss is None:
                return SL.secondary_structure_descriptor(self.atoms, name)
            res = residue_table(self.atoms)
            keys = [k for k in ("pdb_id", "chain", "resseq", "icode")
                    if k in self._ss.columns]
            res = res.join(self._ss.select(*keys, "ss"), keys, "left")
            out = residue_shell_composition(
                res, kind=name.split("_")[0],
                type2=name.endswith("type2"),
                shell=tuple(cfg.get("shell", (3, 20, 2))), ss_col="ss")
        elif name == "Residue depth":
            if self._surface is None:
                return SL.residue_depth(self.atoms)
            from ifeatureomega_cli_spark.operators.structure import (
                residue_depth as _rd)
            out = _rd(self.atoms, self._surface)
        else:
            raise KeyError(
                f"unknown structure descriptor {name!r}; known: {self._TYPES}")
        self.encodings = out
        self._last = (name, dict(cfg))  # so to_csv names match this run
        return out

    def feature_names(self, name: str, params: dict | None = None) -> list[str]:
        from ifeatureomega_cli_spark.operators.structure import (
            shell_feature_names)

        cfg = {**self._params.get(name, {}), **(params or {})}
        if name.startswith(("AAC", "GAAC")):
            return shell_feature_names(name.split("_")[0],
                                       tuple(cfg.get("shell", (3, 20, 2))))
        if name.startswith("AC_"):
            return shell_feature_names("AC", tuple(cfg.get("shell", (1, 10, 1))))
        if name.startswith("HSE"):
            return [f"{name}_value1", f"{name}_value2", f"{name}_value3"]
        if name == "Network-based index":
            return ["degree", "degree_centrality", "betweenness",
                    "clustering_coefficient", "closeness", "centrality"]
        if name.startswith(("SS3", "SS8")):
            return shell_feature_names(name.split("_")[0],
                                       tuple(cfg.get("shell", (3, 20, 2))))
        if name == "Residue depth":
            return ["Residue_depth", "CA_depth"]  # ref :9303 column names
        raise KeyError(name)

    def to_csv(self, path: str, name: str | None = None,
               params: dict | None = None) -> None:
        """Column names come from the LAST get_descriptor call's resolved
        config by default, so per-call `params` overrides never produce
        misnamed / null-padded columns; pass name/params explicitly to
        override."""
        if self.encodings is None:
            raise ValueError("run get_descriptor first")
        cols = self.encodings.columns
        if "features" in cols:
            if name is None and params is None and getattr(self, "_last", None):
                name, params = self._last
            names = self.feature_names(name, params) if name else None
            sinks.write_csv(
                self.encodings.select(F.col("sample").alias("doc_id"),
                                      "features"), path, names=names)
        else:  # network/HSE: already flat columns
            sinks.write_csv(self.encodings, path)


class LigandDataset:
    """Façade mirroring the reference's iLigand class
    (iFeatureOmegaCLI.py:9788-9949) over the SMILES pipeline.

    Reference usage                       →  Spark-native equivalent
    ---------------------------------------------------------------
    lig = iLigand("Chemical_SMILES.txt")  →  lig = LigandDataset(spark, path)
    lig.get_descriptor("Constitution")    →  df = lig.get_descriptor(...)
    lig.encodings                         →  lig.encodings (lazy DataFrame)
    lig.display_feature_types()           →  same
    lig.to_csv("out.csv")                 →  same (feature columns widened)

    Twelve of the 24 families compute real RDKit-free chemistry (round
    6, functions/chemdesc(_ext).py); the RDKit-gated numeric families
    raise unless `allow_stub=True` is passed to get_descriptor.
    """

    def __init__(self, spark: SparkSession, source: str | DataFrame):
        from ifeatureomega_cli_spark.operators.ligand import read_smiles

        self.spark = spark
        self.mols = source if isinstance(source, DataFrame) \
            else read_smiles(spark, str(source))
        self.encodings: DataFrame | None = None
        self.error_msg: str | None = None

    def display_feature_types(self) -> list[str]:
        from ifeatureomega_cli_spark.operators.ligand import LIGAND_FAMILIES

        for n in sorted(LIGAND_FAMILIES):
            print(n)
        return sorted(LIGAND_FAMILIES)

    def get_descriptor(self, name: str,
                       allow_stub: bool = False) -> DataFrame:
        from ifeatureomega_cli_spark import structure_ligand as SL

        kw = {"allow_stub": True} if allow_stub else {}
        self.encodings = SL.ligand_descriptor(self.mols, name, **kw)
        return self.encodings

    def to_csv(self, path: str) -> None:
        if self.encodings is None:
            raise ValueError("call get_descriptor first (ref iLigand flow)")
        sinks.write_csv(
            self.encodings.filter(F.col("valid"))
            .select(F.col("mol_id").cast("string").alias("doc_id"),
                    "features"), path)
