"""Golden end-to-end pipeline test (SURVEY §5.2): miniature definition
file -> matrix -> ALS -> correlation filter -> SVM -> (sample, ±1.0)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_luad_pipeline_spark import ml, pipeline

from . import fixtures


@pytest.fixture(scope="module")
def fixture_root(tmp_path_factory):
    root = tmp_path_factory.mktemp("golden")
    def_path = fixtures.write_fixture(str(root))
    return str(root), def_path


@pytest.fixture(scope="module")
def cfg(fixture_root):
    return pipeline.parse_definition_file(fixture_root[1])


@pytest.fixture(scope="module")
def bundle(spark, cfg):
    return pipeline.build_matrix(spark, cfg)


def test_parse_definition_file(cfg):
    assert cfg.samples == set(fixtures.TRAINING) | {"s0"}
    assert cfg.predictive == set(fixtures.PREDICTIVE)
    assert cfg.types == {"t1", "t2"}
    assert cfg.tumorous == {"s1", "s2", "s3"}
    assert cfg.pc_threshold == 0.95
    assert cfg.output_template.endswith("predictions_%s%.tsv")
    # last-wins: the real s1 t1 file, not the decoy (Input.scala:73)
    assert "DECOY" not in cfg.file_map[("s1", "t1")]
    # undeclared type/sample mappings exist in the raw map but are
    # filtered by eligibility (Input.scala:86,90)
    eligible = cfg.eligible_samples()
    assert "s9" not in eligible
    assert "s0" not in eligible  # declared but no files
    assert all("t3" not in files for files in eligible.values())


def test_matrix_build(bundle):
    samples = {r.name for r in bundle.sample_dict.collect()}
    assert samples == set(fixtures.SAMPLES)
    probes = {r.name for r in bundle.probe_dict.collect()}
    assert "x001" not in probes  # undeclared type's probes absent
    assert set(fixtures.T1_PROBES) <= probes
    # decoy values (1e9) must not appear anywhere (last-wins)
    assert bundle.matrix.where(F.col("value") > 1e6).count() == 0
    # header rows dropped: their value does not parse as a double
    assert bundle.matrix.where(F.col("value").isNull()).count() == 0
    n_missing = sum(
        1
        for s in fixtures.SAMPLES
        for p in fixtures.T1_PROBES + fixtures.T2_PROBES
        if fixtures.value_for(s, p) is None
    )
    expected = len(fixtures.SAMPLES) * 40 - n_missing
    assert bundle.matrix.count() == expected
    assert n_missing > 0  # the ALS path must actually trigger


def test_als_completion_fills_grid(bundle):
    completed = ml.als_complete(bundle.matrix, num_blocks=4)
    n_samples = bundle.matrix.select("sample_id").distinct().count()
    n_probes = bundle.matrix.select("probe_id").distinct().count()
    assert completed.count() == n_samples * n_probes
    # observed cells pass through untouched
    joined = completed.withColumnRenamed("value", "c").join(
        bundle.matrix, ["sample_id", "probe_id"]
    )
    assert joined.where(F.abs(F.col("c") - F.col("value")) > 1e-9).count() == 0


def test_correlation_plants(spark, bundle):
    """Planted r=±1 pairs appear; the constant probe never does."""
    probe_ids = {r.name: r.id for r in bundle.probe_dict.collect()}
    edges = ml.pearson_edges(bundle.matrix, threshold=0.95)
    got = {
        (min(r.probe_i, r.probe_j), max(r.probe_i, r.probe_j)): r.r
        for r in edges.collect()
    }

    def pair(a, b):
        return (min(probe_ids[a], probe_ids[b]), max(probe_ids[a], probe_ids[b]))

    assert got[pair("g001", "g002")] == pytest.approx(1.0)
    assert got[pair("g001", "g003")] == pytest.approx(-1.0)
    assert got[pair("m001", "m002")] == pytest.approx(1.0)
    const_id = probe_ids[fixtures.CONSTANT_PROBE]
    assert all(const_id not in p for p in got)


def test_connected_components_on_plants(spark, bundle):
    from flink_luad_pipeline_spark.operators.graph import connected_components

    probe_ids = {r.name: r.id for r in bundle.probe_dict.collect()}
    edges = ml.pearson_edges(bundle.matrix, threshold=0.95).select(
        F.col("probe_i").alias("src"), F.col("probe_j").alias("dst")
    )
    vertices = bundle.matrix.select(F.col("probe_id").alias("vertex")).distinct()
    comp = {r.vertex: r.component for r in connected_components(edges, vertices).collect()}
    # planted components merged
    assert comp[probe_ids["g001"]] == comp[probe_ids["g002"]] == comp[probe_ids["g003"]]
    assert comp[probe_ids["m001"]] == comp[probe_ids["m002"]]
    # constant probe is a singleton labeled by itself
    assert comp[probe_ids[fixtures.CONSTANT_PROBE]] == probe_ids[fixtures.CONSTANT_PROBE]
    # every vertex labeled
    assert len(comp) == len(probe_ids)


def test_end_to_end_predictions(spark, fixture_root, monkeypatch):
    """The whole program on the fixture. Driver-known metadata stays in
    the plan as literals: the pipeline never builds a Python RDD (a
    local-list ``createDataFrame`` parallelizes one), so it starts no
    Python worker."""
    import glob

    from pyspark import SparkContext

    def no_python_rdd(*args, **kwargs):
        raise AssertionError("the LUAD path built a Python RDD")

    monkeypatch.setattr(SparkContext, "parallelize", no_python_rdd)
    preds_df = pipeline.run_pipeline(
        spark, fixture_root[1], output_token="test", als_blocks=4
    )
    preds = {r.sample: r.prediction for r in preds_df.collect()}
    # shape: exactly the predictive samples, values in {±1.0} (README.md:38)
    assert set(preds) == set(fixtures.PREDICTIVE)
    assert set(preds.values()) <= {1.0, -1.0}
    # separable plants: s7 tumorous (+1), s8 normal (-1) — beats the
    # coin-flip floor demanded by BASELINE.md
    assert preds["s7"] == 1.0
    assert preds["s8"] == -1.0
    # S5/S6: output written to the templated path
    out_files = glob.glob(f"{fixture_root[0]}/predictions_test.tsv/*.csv")
    assert out_files, "templated TSV output missing"


def test_stage_boundaries_are_leaf_scans(spark, cfg, bundle):
    """Each stage boundary is materialized once by ``localCheckpoint``:
    every frame a stage returns plans as one leaf RDD scan, with no
    cached (``InMemoryRelation``) subplan dragging its lineage, and ALS
    completion leaves no session-lifetime cache entry behind."""
    filtered = pipeline.preprocess(bundle.matrix, cfg.pc_threshold, als_blocks=4)
    frames = {
        "matrix": bundle.matrix,
        "sample_dict": bundle.sample_dict,
        "probe_dict": bundle.probe_dict,
        "labels": bundle.labels,
        "filtered": filtered,
        "predictions": pipeline.train_and_predict(bundle, filtered),
    }
    plans = {
        name: df._jdf.queryExecution().optimizedPlan()
        for name, df in frames.items()
    }
    assert [n for n, p in plans.items() if "InMemoryRelation" in p.toString()] == []
    assert {n: p.nodeName() for n, p in plans.items()} == dict.fromkeys(
        frames, "LogicalRDD"
    )

    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    ml.als_complete(bundle.matrix, num_blocks=4).count()
    assert cache.isEmpty()


def test_train_and_predict_job_budget(spark, cfg, bundle):
    """The SVM is one Gram aggregation plus a driver-side dual solve:
    the whole Trainer stage on the fixture runs at most 10 Spark jobs
    (an iterative optimizer runs one job per iteration)."""
    filtered = pipeline.preprocess(bundle.matrix, cfg.pc_threshold, als_blocks=4)
    sc = spark.sparkContext
    group = "test_train_and_predict_job_budget"
    sc.setJobGroup(group, "Trainer stage on the fixture")
    try:
        pipeline.train_and_predict(bundle, filtered)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 10


def _write_input(root, files, *, predictive=(), tumorous=(), lines=None):
    """One-type definition file: ``files`` maps sample -> file name;
    samples not in ``predictive`` are training samples."""
    lines = lines or ["probe_id\traw_count", "p1\t1.5", "p2\t2.5"]
    with open(root / "input.txt", "w") as f:
        f.write("def\tsample-type\tt1\n")
        for s in files:
            kind = "predictive" if s in predictive else "sample"
            f.write(f"def\t{kind}\t{s}\n")
        for s in tumorous:
            f.write(f"diagnosis\t{s}\tTN\n")
        for s, name in files.items():
            path = root / name
            path.parent.mkdir(parents=True, exist_ok=True)
            path.write_text("".join(line + "\n" for line in lines))
            f.write(f"t1\t{s}\t{path}\n")
    return pipeline.parse_definition_file(str(root / "input.txt"))


def _named_cells(bundle):
    """The matrix as sorted (sample, probe, value) rows, repeats kept."""
    samples = {r.id: r.name for r in bundle.sample_dict.collect()}
    probes = {r.id: r.name for r in bundle.probe_dict.collect()}
    return sorted(
        (samples[r.sample_id], probes[r.probe_id], r.value)
        for r in bundle.matrix.collect()
    )


@pytest.mark.parametrize(
    "files, lines",
    [
        # Two columns are read whatever a file's first line holds: a
        # one-field header is dropped, like Flink's lenient
        # ``includedFields=(0,1)`` read (Input.scala:121), and so is a
        # one-field row further down.
        (
            {"s1": "s1.tsv", "s2": "s2.tsv"},
            ["probe", "p1\t1.5\textra", "p3", "p2\t2.5"],
        ),
        # ``input_file_name()`` escapes a space as %20 and a % as %25
        # and leaves a + as it is; each file's rows must still reach
        # its sample.
        (
            {"s1": "s1 a.tsv", "s2": "s2%b.tsv", "s3": "s3+c.tsv", "s4": "s4%2B.tsv"},
            None,
        ),
        # Hadoop glob characters name one file each: ``y{a}.tsv`` is not
        # a pattern that matches nothing, and ``w*.tsv`` does not also
        # read its sibling ``wX.tsv``, which another sample owns.
        (
            {
                "s1": "x[1].tsv",
                "s2": "y{a}.tsv",
                "s3": "z?.tsv",
                "s4": "w*.tsv",
                "s5": "wX.tsv",
                "s6": "plain.tsv",
            },
            None,
        ),
    ],
    ids=["one_field_lines", "uri_escaped_names", "glob_chars"],
)
def test_build_matrix_keeps_every_row(spark, tmp_path, files, lines):
    """Every file's rows reach its sample, each exactly once."""
    cfg = _write_input(tmp_path, files, lines=lines)
    assert _named_cells(pipeline.build_matrix(spark, cfg)) == sorted(
        (s, p, v) for s in files for p, v in (("p1", 1.5), ("p2", 2.5))
    )


@pytest.mark.parametrize(
    "tumorous, expected",
    [
        # s3 is predictive and diagnosed TN: prediction wins over
        # training (Input.scala:156-159), the flag is kept
        (("s1", "s3"), {"s1": (True, False), "s2": (False, False), "s3": (True, True)}),
        # no ``diagnosis ... TN`` line at all: nothing is tumorous
        ((), {"s1": (False, False), "s2": (False, False), "s3": (False, True)}),
    ],
    ids=["predictive_and_tn", "no_diagnosis"],
)
def test_labels(spark, tmp_path, tumorous, expected):
    cfg = _write_input(
        tmp_path,
        {s: f"{s}.tsv" for s in ("s1", "s2", "s3")},
        predictive=("s3",),
        tumorous=tumorous,
    )
    bundle = pipeline.build_matrix(spark, cfg)
    names = {r.id: r.name for r in bundle.sample_dict.collect()}
    assert {
        names[r.sample_id]: (r.tumorous, r.is_prediction)
        for r in bundle.labels.collect()
    } == expected


def test_build_matrix_rejects_basename_collision(spark, tmp_path):
    """Two files of one type with the same basename cannot be told apart
    by the scanned file name, so the build refuses them."""
    cfg = _write_input(tmp_path, {"s1": "a/x.tsv", "s2": "b/x.tsv"})
    with pytest.raises(ValueError, match="basename collision for type 't1': 'x.tsv'"):
        pipeline.build_matrix(spark, cfg)


def test_cli_prints_sorted_predictions(spark, fixture_root, capsys):
    from flink_luad_pipeline_spark.__main__ import main

    assert main([fixture_root[1], "--als-blocks", "4"]) == 0
    # one ``sample\t±1.0`` line per predictive sample, sorted by sample:
    # s7 carries the tumorous plant, s8 the normal one
    assert fixtures.PREDICTIVE == ["s7", "s8"]
    assert capsys.readouterr().out.splitlines() == ["s7\t1.0", "s8\t-1.0"]


def test_fixedwidth_source_drops_malformed_rows(spark, tmp_path):
    """The fixed-width Python DataSource must apply the csv_io
    malformed-row convention to BOTH failure modes: short lines AND
    full-length lines whose declared-INT field is non-numeric (blank
    padding); and the widths option must fail with a clear message."""
    import pytest

    from flink_luad_pipeline_spark.sources import fixedwidth

    p = tmp_path / "fw.txt"
    p.write_text(
        "  1alpha  \n"      # good: id=1, name='alpha'
        "xxxbeta   \n"      # bad: non-numeric INT field -> dropped
        "   gamma  \n"      # bad: blank-padded INT field -> dropped
        " 12\n"             # bad: short line -> dropped
        " 42delta  \n"      # good: id=42, name='delta'
    )
    fixedwidth.register(spark)
    rows = (
        spark.read.format("fixedwidth")
        .schema("id INT, name STRING")
        .option("path", str(p))
        .option("widths", "3,7")
        .load()
        .collect()
    )
    assert sorted((r.id, r.name) for r in rows) == [(1, "alpha"), (42, "delta")]

    with pytest.raises(Exception, match="widths"):
        spark.read.format("fixedwidth").schema("id INT").option(
            "path", str(p)
        ).load().collect()
