"""End-to-end LUAD-equivalent pipeline (SURVEY §3): definition file ->
expression matrix -> ALS completion -> co-expression graph filter ->
SVM train/predict -> (sample, ±1.0).

Reference flow: PipeLine.scala:7-42 orchestrating Input.scala (parse +
matrix build), PreProcess.scala (completion + correlation + CC filter),
Trainer.scala (SVM). Deliberate Spark-first deltas, each cited:

- **One scan per sample-type, not per file.** The reference issues one
  ``readCsvFile`` per (sample, type) file and folds 586 unions
  (Input.scala:114-132). We read each type's whole file list in a single
  multi-path scan with a fixed two-column schema, and recover the sample
  from the scanned file's name through a literal basename->sample map —
  constant plan depth, parallel IO, no lookup join.
- **Deterministic ids.** Sample/probe dictionaries use
  row_number-over-name (operators.relational.dict_encode) instead of
  collect.zipWithIndex / set-iteration order (Input.scala:104-108,
  137-142) — SURVEY §7 M4d.
- **Each stage boundary is materialized once** by an eager
  ``localCheckpoint`` (parsed input, dictionaries, matrix, labels,
  completed and filtered matrix, predictions), replacing
  Flink 0.10's whole-DAG recomputation at each of ~14 collect/count
  sites (SURVEY §3.1). Downstream plans start at a leaf RDD scan, not at
  a nested cached plan, and the blocks are released when the frame is
  dereferenced. Like every other checkpoint boundary in the package, it
  does not survive executor loss.
- **No global state.** The reference parks everything in mutable
  singletons (Input.scala:172-185, Trainer.scala:119); here each stage
  is a pure function.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import ml
from .operators import relational as R

#: default correlation threshold (Input.scala:185)
DEFAULT_PC_THRESHOLD = 0.8
_GLOB_CHARS = re.compile(r"[\\{}\[\]*?]")  # Hadoop glob syntax


@dataclass
class PipelineConfig:
    """Parsed definition file (grammar: README.md:15-36, Input.scala:34-101)."""

    samples: set[str] = field(default_factory=set)  # def sample
    predictive: set[str] = field(default_factory=set)  # def predictive
    types: set[str] = field(default_factory=set)  # def sample-type
    tumorous: set[str] = field(default_factory=set)  # diagnosis <s> TN
    #: (sample, type) -> file path; duplicate mappings: LAST WINS
    file_map: dict[tuple[str, str], str] = field(default_factory=dict)
    output_template: str | None = None  # def output
    pc_threshold: float | None = DEFAULT_PC_THRESHOLD  # def pc-threshold

    def eligible_samples(self) -> dict[str, dict[str, str]]:
        """sample -> {type: path}, applying the reference's guards
        (Input.scala:84-99): sample must be declared as training or
        predictive; file's type must be declared; samples with zero
        valid files are dropped entirely."""
        out: dict[str, dict[str, str]] = {}
        declared = self.samples | self.predictive
        for (sample, typ), path in self.file_map.items():
            if sample in declared and typ in self.types and path:
                out.setdefault(sample, {})[typ] = path
        return out


def parse_definition_file(path: str) -> PipelineConfig:
    """A1 — parse the tab-separated definition file.

    Driver-side, like the reference (its global reduceGroup funnels the
    whole file through one task, Input.scala:34). Line semantics
    (Input.scala:48-74): ``def sample|sample-type|predictive|output|
    pc-threshold``; ``diagnosis <sample> TN`` marks tumorous; any other
    first token is a type name mapping ``<type> <sample> <path>`` with
    last-wins overwrite (:73). ``#`` comments and malformed (<3 column)
    lines are dropped (lenient parse, :30).
    """
    cfg = PipelineConfig()
    with open(path) as f:
        for line in f:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            parts = line.split("\t")
            if len(parts) < 3:
                continue  # lenient=true
            f1, f2, f3 = parts[0], parts[1], parts[2]
            if f1 == "def":
                if f2 == "sample":
                    cfg.samples.add(f3)
                elif f2 == "sample-type":
                    cfg.types.add(f3)
                elif f2 == "predictive":
                    cfg.predictive.add(f3)
                elif f2 == "output":
                    cfg.output_template = f3
                elif f2 == "pc-threshold":
                    cfg.pc_threshold = (
                        None if f3.lower() == "none" else float(f3)
                    )
            elif f1 == "diagnosis":
                if f3 == "TN":
                    cfg.tumorous.add(f2)
            else:
                cfg.file_map[(f2, f1)] = f3  # last wins
    return cfg


@dataclass
class MatrixBundle:
    """The central IR plus its dictionaries and split/label table."""

    matrix: DataFrame  # (sample_id INT, probe_id INT, value DOUBLE)
    sample_dict: DataFrame  # (name STRING, id BIGINT)
    probe_dict: DataFrame  # (name STRING, id BIGINT)
    labels: DataFrame  # (sample_id, tumorous BOOL, is_prediction BOOL)


def build_matrix(spark: SparkSession, cfg: PipelineConfig) -> MatrixBundle:
    """Input stage (Input.scala:103-160) — COO matrix + dictionaries.

    One multi-path TSV scan per sample-type; the owning sample is
    looked up from the scanned file's basename in a literal
    basename->sample map (guarded against basename collisions). The
    labels are computed from the sample dictionary with literal
    ``isin`` sets. Driver-known metadata stays in the plan as literals:
    no Python RDD (so no Python worker) and no lookup join.
    """
    eligible = cfg.eligible_samples()
    if not eligible:
        raise ValueError("definition file yields no loadable samples")

    per_type: dict[str, dict[str, str]] = {}  # type -> {basename: sample}
    paths: dict[str, list[str]] = {}  # type -> file paths
    for sample, files in eligible.items():
        for typ, path in files.items():
            base = os.path.basename(path)
            owners = per_type.setdefault(typ, {})
            if base in owners:
                raise ValueError(
                    f"basename collision for type {typ!r}: {base!r} — "
                    "multi-path sample recovery needs unique file names"
                )
            owners[base] = sample
            # the reader expands Hadoop glob characters; escape them so
            # each path names exactly its own file
            paths.setdefault(typ, []).append(_GLOB_CHARS.sub(r"\\\g<0>", path))

    # ``input_file_name()`` is Hadoop's ``Path.toUri`` form: a space
    # reads back as %20 and a % as %25, while a literal + stays as it
    # is. Protect the + (URL decoding turns it into a space), then
    # decode, to get the file name back exactly.
    uri_base = F.element_at(F.split(F.input_file_name(), "/"), -1)
    file_base = F.url_decode(F.replace(uri_base, F.lit("+"), F.lit("%2B")))
    frames = []
    for typ, owners in per_type.items():
        owner = F.create_map(
            *[F.lit(x) for item in sorted(owners.items()) for x in item]
        )
        # Flink's includedFields=Array(0,1) + lenient=true
        # (Input.scala:121): a fixed two-column schema read PERMISSIVE
        # drops extra fields and null-fills missing ones, with no
        # schema-inference job; rows whose value doesn't parse
        # (headers!) are dropped after a try_cast.
        frames.append(
            spark.read.option("sep", "\t")
            .option("comment", "#")
            .schema("_c0 STRING, _c1 STRING")
            .csv(sorted(paths[typ]))
            .select(
                owner[file_base].alias("sample_name"),
                F.col("_c0").alias("probe_name"),
                F.col("_c1").try_cast("double").alias("value"),
            )
            .where(
                F.col("sample_name").isNotNull()
                & F.col("probe_name").isNotNull()
                & F.col("value").isNotNull()
            )
        )
    named = R.union_all(frames).localCheckpoint(eager=True)

    sample_dict = R.dict_encode(named, "sample_name").localCheckpoint(eager=True)
    probe_dict = R.dict_encode(named, "probe_name").localCheckpoint(eager=True)

    matrix = (
        named.join(
            F.broadcast(sample_dict.withColumnRenamed("id", "sample_id")),
            named.sample_name == F.col("name"),
        )
        .drop("name")
        .join(
            F.broadcast(probe_dict.withColumnRenamed("id", "probe_id")),
            named.probe_name == F.col("name"),
        )
        .select(
            F.col("sample_id").cast("int"),
            F.col("probe_id").cast("int"),
            F.col("value").cast("double"),
        )
        .localCheckpoint(eager=True)
    )

    # P3 split + labels (Input.scala:156-159: prediction wins over
    # training). The dictionary holds exactly the eligible samples that
    # have rows.
    labels = sample_dict.select(
        F.col("id").cast("int").alias("sample_id"),
        F.col("name").isin(sorted(cfg.tumorous)).alias("tumorous"),
        F.col("name").isin(sorted(cfg.predictive)).alias("is_prediction"),
    ).localCheckpoint(eager=True)
    return MatrixBundle(matrix, sample_dict, probe_dict, labels)


def preprocess(
    matrix: DataFrame,
    pc_threshold: float | None = DEFAULT_PC_THRESHOLD,
    als_blocks: int = 100,
) -> DataFrame:
    """PreProcess stage (PreProcess.scala:96-218): ALS completion, then
    optional correlation-graph feature selection (one representative
    probe per connected component). ``als_blocks`` mirrors the
    reference's Blocks=100 (PreProcess.scala:134); shrink it for tiny
    inputs."""
    from .operators.graph import component_representatives, connected_components

    completed = ml.als_complete(matrix, num_blocks=als_blocks).localCheckpoint(
        eager=True
    )

    if pc_threshold is None:
        return completed

    edges = ml.pearson_edges(completed, threshold=pc_threshold).select(
        F.col("probe_i").alias("src"), F.col("probe_j").alias("dst")
    )
    vertices = completed.select(F.col("probe_id").alias("vertex")).distinct()
    components = connected_components(edges, vertices)
    reps = component_representatives(components).select(
        F.col("representative").alias("probe_id")
    )
    # P2 — keep only representative probes (PreProcess.scala:213-216)
    return R.semi_join(completed, reps, ["probe_id"]).localCheckpoint(eager=True)


def train_and_predict(bundle: MatrixBundle, filtered: DataFrame) -> DataFrame:
    """Trainer stage (Trainer.scala): fit on training samples, predict
    the predictive ones, decode ids back to names (PipeLine.scala:30).
    The SVM reads the filtered long matrix directly; one Gram pass
    scores every sample (``ml.svm_train``).

    Returns ``DataFrame[sample STRING, prediction DOUBLE]`` with
    prediction ∈ {1.0 (tumorous), -1.0} — README.md:38, :73-75.
    """
    decisions = ml.svm_train(filtered, bundle.labels.where(~F.col("is_prediction")))
    preds = ml.svm_predict(
        decisions, bundle.labels.where(F.col("is_prediction")).select("sample_id")
    )
    decoded = R.dict_decode(
        preds,
        bundle.sample_dict,
        "sample_id",
        "id",
        "name",
        out_col="sample",
    )
    return decoded.select("sample", "prediction").localCheckpoint(eager=True)


def run_pipeline(
    spark: SparkSession,
    def_file: str,
    output_token: str = "run",
    als_blocks: int = 100,
) -> DataFrame:
    """The whole program (PipeLine.scala:7-42). If the definition file
    requests an output path, predictions are written as TSV (S5/S6);
    the DataFrame is returned either way."""
    from .sources import csv_io

    cfg = parse_definition_file(def_file)
    bundle = build_matrix(spark, cfg)
    filtered = preprocess(bundle.matrix, cfg.pc_threshold, als_blocks=als_blocks)
    predictions = train_and_predict(bundle, filtered)

    if cfg.output_template:
        out = csv_io.resolve_output_path(cfg.output_template, output_token)
        csv_io.write_tsv(predictions, out)
    return predictions
