"""End-to-end pipeline orchestration test: discovery -> process ->
resume skip -> output layers readable."""

from __future__ import annotations

import csv
import hashlib
import os

import pyarrow.parquet as pq
import pytest

from nbody6_data_pipeline_spark.operators.align import align_runs
from nbody6_data_pipeline_spark.operators.assemble import assemble_runs
from nbody6_data_pipeline_spark.operators.observe import observe
from nbody6_data_pipeline_spark.pipeline import LAYERS, process_all
from nbody6_data_pipeline_spark.session import scoped_conf
from nbody6_data_pipeline_spark.sources.discovery import fetch_sim_runs
from nbody6_data_pipeline_spark.sources.nbody6 import FILE_CONFIGS
from nbody6_data_pipeline_spark.sources.sinks import write_parquet
from tests.nbody6_fixtures import write_run


@pytest.fixture(scope="module")
def sim_base(tmp_path_factory):
    base = tmp_path_factory.mktemp("simroot")
    write_run(str(base / "Rad04" / "zmet0014" / "M6" / "0001"))
    write_run(str(base / "Rad04" / "zmet0014" / "M6" / "0002"))
    return str(base)


def test_discovery(sim_base):
    runs = fetch_sim_runs(sim_base)
    assert len(runs) == 2
    assert runs[0].label == "Rad04-zmet0014-M6-0001"
    assert runs[1].label == "Rad04-zmet0014-M6-0002"
    assert runs[0].attrs["init_mass_lv"] == 6


RUN1 = "Rad04-zmet0014-M6-0001"
RUN2 = "Rad04-zmet0014-M6-0002"
OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def test_process_all_and_resume(spark, tmp_path):
    """Two batches append: run 1 alone, then run 2 added. Dynamic
    partition overwrite must keep run 1's partitions in every layer
    (a static overwrite would leave only the second batch's run), the
    session conf must not change, and a third call is a no-op."""
    base = tmp_path / "simroot"
    out = str(tmp_path / "out")
    coords = [(50.0, 0.0, 0.0)]
    mode0 = spark.conf.get(OVERWRITE_MODE)

    write_run(str(base / "Rad04" / "zmet0014" / "M6" / "0001"))
    runs = process_all(spark, str(base), out, coordinates=coords,
                       is_slim=False)
    assert [r.label for r in runs] == [RUN1]
    write_run(str(base / "Rad04" / "zmet0014" / "M6" / "0002"))
    runs = process_all(spark, str(base), out, coordinates=coords,
                       is_slim=False)
    assert [r.label for r in runs] == [RUN1, RUN2]
    assert spark.conf.get(OVERWRITE_MODE) == mode0

    for layer in LAYERS:
        df = spark.read.parquet(os.path.join(out, layer))
        run_ids = {r["run_id"] for r in df.select("run_id").distinct().collect()}
        assert run_ids == {RUN1, RUN2}, f"{layer} lost a run partition"
    for layer in ("overall_stats", "snapshot_headers"):
        # 3 timestamps x 1 coordinate per run
        assert spark.read.parquet(os.path.join(out, layer)).count() == 6

    stats = spark.read.parquet(os.path.join(out, "overall_stats"))
    r = stats.filter(stats.run_id == RUN1).collect()[0]
    assert r["obs_x"] == 50.0
    assert r["init_mass_lv"] == 6
    assert r["n_star"] > 0

    # CSV export: csv/<layer>/run_id=<id>/, and one multi-path read is
    # the concat of every run's stats (S11)
    for layer in ("overall_stats", "annular_stats"):
        csv_dir = os.path.join(out, "csv", layer)
        assert {n for n in os.listdir(csv_dir) if n.startswith("run_id=")} == {
            f"run_id={RUN1}", f"run_id={RUN2}"
        }
    back = spark.read.option("header", True).csv(
        os.path.join(out, "csv", "overall_stats")
    )
    assert back.count() == 6
    assert {r["run_id"] for r in back.select("run_id").distinct().collect()} == {
        RUN1, RUN2
    }

    # resume: a third call finds both runs and runs no Spark job
    sc = spark.sparkContext
    sc.setJobGroup("resume-probe", "resume must do no work")
    try:
        runs = process_all(spark, str(base), out, coordinates=coords,
                           is_slim=False)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("resume-probe"))
    finally:
        sc.setJobGroup(None, None)
    assert len(runs) == 2 and n_jobs == 0
    assert spark.read.parquet(os.path.join(out, "overall_stats")).count() == 6


def test_write_parquet_leaves_session_conf(spark, tmp_path):
    mode0 = spark.conf.get(OVERWRITE_MODE)
    df = spark.createDataFrame([("a", 1), ("b", 2)], "run_id string, v int")
    path = str(tmp_path / "layer")
    write_parquet(df, path, ["run_id"])
    assert spark.conf.get(OVERWRITE_MODE) == mode0
    # still dynamic per write: rewriting run a keeps run b
    write_parquet(df.filter("run_id = 'a'"), path, ["run_id"])
    assert spark.read.parquet(path).count() == 2


def test_align_runs_executor_side_strict_error(spark, tmp_path, monkeypatch):
    """Strict-mode timestamp violations raise the reference's error
    text as a plain ValueError from align_runs itself, although the
    decision runs in an executor-side kernel."""
    from tests import nbody6_fixtures
    from nbody6_data_pipeline_spark.sources.nbody6 import load_runs

    root = str(tmp_path / "badrun")
    monkeypatch.setitem(
        nbody6_fixtures.JITTER, "OUT9", 0.5  # way past the 2e-2 tolerance
    )
    write_run(root)
    multi = load_runs(spark, [("bad", root)])
    with pytest.raises(ValueError, match="inconsistent timestamps"):
        align_runs(multi)


def test_align_runs_warns_on_nonzero_first_timestamp(spark, tmp_path, monkeypatch):
    """A run whose first aligned timestamp is not 0.0 is aligned with
    the reference's warning (loader.py), raised on the driver."""
    from tests import nbody6_fixtures
    from nbody6_data_pipeline_spark.sources.nbody6 import load_runs

    root = str(tmp_path / "late")
    monkeypatch.setattr(nbody6_fixtures, "TIMES", [1.0, 2.0, 3.0])
    write_run(root)
    multi = load_runs(spark, [("late", root)])
    with pytest.warns(UserWarning, match=r"First aligned timestamp is 1.0, not 0.0"):
        aligned = align_runs(multi)
    assert sorted(r["time"] for r in aligned.headers("OUT34").collect()) == [
        1.0, 2.0, 3.0
    ]


def test_align_runs_cuts_at_first_dissolved_snapshot(spark, tmp_path):
    """The aligned tables of a run end before its first dissolved
    snapshot (densCentre r_tidal <= 0, assembler.py:522-527): no header
    or data row of any file is at or after it, and a run without one
    keeps every snapshot."""
    from tests.nbody6_fixtures import TIMES
    from nbody6_data_pipeline_spark.sources.nbody6 import load_runs

    gone = write_run(str(tmp_path / "gone"), dissolve_last=True)
    kept = write_run(str(tmp_path / "kept"))
    aligned = align_runs(load_runs(spark, [("gone", gone), ("kept", kept)]))
    for fname in FILE_CONFIGS:
        for part in ("headers", "data"):
            rows = getattr(aligned, part)(fname).collect()
            late = [r for r in rows if r["run_id"] == "gone" and r["time"] >= TIMES[-1]]
            assert not late, (fname, part, late)
        assert {(r["run_id"], r["time"]) for r in aligned.headers(fname).collect()} == {
            ("kept", t) for t in TIMES
        } | {("gone", t) for t in TIMES[:-1]}, fname


def test_align_runs_bad_r_tidal_token(spark, tmp_path):
    """densCentre's r_tidal is a Spark cast of the raw token: a bad one
    raises from align_runs in strict mode, and in lax mode it is NULL,
    which dissolves nothing."""
    from tests.nbody6_fixtures import TIMES
    from nbody6_data_pipeline_spark.sources.nbody6 import load_runs

    root = write_run(str(tmp_path / "rt"), dissolve_last=True)
    path = os.path.join(root, "densCentre.txt")
    with open(path) as f:
        lines = f.read().splitlines()
    toks = lines[-1].split()
    lines[-1] = " ".join([toks[0], "BAD", *toks[2:]])
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    with pytest.raises(Exception, match="'BAD'"):
        align_runs(load_runs(spark, [("rt", root)]))
    aligned = align_runs(load_runs(spark, [("rt", root)], is_strict=False))
    assert sorted(r["time"] for r in aligned.headers("OUT34").collect()) == TIMES


def _write_bad_time_run(root):
    """Six files of one snapshot whose header time tokens all fail
    Spark's cast."""
    os.makedirs(root)
    texts = {
        "OUT34": "# 0 1 2 3 4 5 6 bad\n1 2 3 4 5 6 7 8 9\n",
        "OUT9": "# 0 bad 1\n# x\n# y\n",
        "fort.19": "# bad 1\n",
        "fort.82": "## BEGIN 0 bad\n1 2\n## END\n",
        "fort.83": "## BEGIN 0 bad\n1 2\n## END\n",
        "densCentre.txt": "bad 1 2 3 4\n",
    }
    for fname, text in texts.items():
        with open(os.path.join(root, fname), "w") as f:
            f.write(text)
    return root


@pytest.mark.parametrize("case", ["no_blocks", "bad_times"])
def test_align_runs_lax_empty_input(spark, tmp_path, case):
    """A lax batch that leaves alignment no timed row — six files that
    hold no blocks, or a run whose header time tokens are all bad —
    aligns to empty tables, with no error and no warning."""
    import warnings

    from nbody6_data_pipeline_spark.sources.nbody6 import load_runs

    root = str(tmp_path / case)
    if case == "no_blocks":
        os.makedirs(root)
        for fname in FILE_CONFIGS:
            open(os.path.join(root, fname), "w").close()
    else:
        _write_bad_time_run(root)
    multi = load_runs(spark, [(case, root)], is_strict=False)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        aligned = align_runs(multi)
    assert aligned.blocks.count() == 0
    for fname in FILE_CONFIGS:
        assert aligned.headers(fname).count() == 0
        assert aligned.data(fname).count() == 0


def test_batched_load_align_constant_driver_actions(spark, sim_base):
    """load_runs + align_runs issue a constant number of driver
    actions: the Spark job count (AQE materializes a few jobs per
    action, fixed by plan shape) must NOT grow with the run count —
    a per-run loop would issue ~2 actions per file per run instead."""
    from nbody6_data_pipeline_spark.operators.align import align_runs
    from nbody6_data_pipeline_spark.sources.nbody6 import load_runs

    runs = fetch_sim_runs(sim_base)
    assert len(runs) >= 2

    def count_jobs(tag, subset):
        pairs = [(r.label, r.path) for r in subset]
        multi, n_load = _jobs(spark, f"{tag}-load", lambda: load_runs(spark, pairs))
        # the kernel's shuffle + ONE checkpoint
        _, n_align = _jobs(spark, f"{tag}-align", lambda: align_runs(multi))
        return n_load, n_align

    one = count_jobs("bla-1", runs[:1])
    two = count_jobs("bla-2", runs)
    # same plan shape -> same job count regardless of run count
    # (tolerance 2 for jobs AQE adds per action)
    assert sum(two) <= sum(one) + 2
    assert one[0] == two[0] == 1, (one, two)
    assert one[1] <= 2 and two[1] <= 2, (one, two)


def test_batched_pipeline_lax_mode(spark, tmp_path):
    """End-to-end lax mode: a run whose pairing info references a star
    missing from the attribute catalog processes to completion with
    the offending binaries dropped (strict mode raises instead)."""
    base = tmp_path / "laxroot"
    write_run(str(base / "Rad04" / "zmet0014" / "M6" / "0001"), drop_name=7)
    out_strict = str(tmp_path / "out_strict")
    with pytest.raises(Exception):
        process_all(
            spark, str(base), out_strict, coordinates=[(50.0, 0.0, 0.0)],
            is_strict=True,
        )
    out = str(tmp_path / "out_lax")
    process_all(
        spark, str(base), out, coordinates=[(50.0, 0.0, 0.0)],
        is_strict=False,
    )
    stats = spark.read.parquet(os.path.join(out, "overall_stats"))
    rows = stats.collect()
    assert len(rows) == 3 and all(r["n_star"] > 0 for r in rows)


def test_aligned_tables_read_checkpoint_without_exchange(spark, sim_base):
    """Every typed table align_runs returns is a filter and projection
    of the aligned checkpoint: no window, shuffle or broadcast re-runs
    parse or alignment work for any of its consumers."""
    from nbody6_data_pipeline_spark.operators.align import align_runs
    from nbody6_data_pipeline_spark.sources.nbody6 import load_runs

    def nodes(plan):
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.executedPlan()
        yield plan
        children = plan.children()
        for i in range(children.size()):
            yield from nodes(children.apply(i))

    runs = fetch_sim_runs(sim_base)
    aligned = align_runs(load_runs(spark, [(r.label, r.path) for r in runs]))
    for fname in FILE_CONFIGS:
        for part in ("headers", "data"):
            plan = getattr(aligned, part)(fname)._jdf.queryExecution().executedPlan()
            names = [n.getClass().getSimpleName() for n in nodes(plan)]
            assert "RDDScanExec" in names, f"{fname}.{part}: {names}"
            assert not {
                "WindowExec", "ShuffleExchangeExec", "BroadcastExchangeExec",
            } & set(names), f"{fname}.{part}: {names}"


def test_align_runs_executor_side_caches_nothing(spark, sim_base):
    """The executor-side alignment leaves nothing in the session's
    cache: its mapping is read by the one checkpoint of the aligned
    table, so a persist() would only leak."""
    from nbody6_data_pipeline_spark.sources.nbody6 import load_runs

    runs = fetch_sim_runs(sim_base)
    spark.catalog.clearCache()
    align_runs(load_runs(spark, [(r.label, r.path) for r in runs]))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


HAZARD_WARNINGS = (
    "trivially true equals predicate",
    "No Partition Defined for Window",
)


def test_pipeline_logs_no_hazard_warnings(spark, sim_base, tmp_path):
    """A pipeline call logs neither hazard: a join condition comparing a
    column with itself ("trivially true", correct only through
    Dataset.join's self-join rewrite) or a window without a partition
    (which pulls a whole table into one task). The JVM's root logger
    gets a log4j2 WriterAppender over a StringWriter for the call."""
    jvm = spark._jvm
    core = jvm.org.apache.logging.log4j.core
    writer = jvm.java.io.StringWriter()
    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
    root = ctx.getConfiguration().getRootLogger()
    appender = core.appender.WriterAppender.createAppender(
        core.layout.PatternLayout.createDefaultLayout(), None, writer,
        "hazard-probe", False, True,
    )
    appender.start()
    root.addAppender(appender, None, None)
    ctx.updateLoggers()
    try:
        process_all(spark, sim_base, str(tmp_path / "out"),
                    coordinates=[(50.0, 0.0, 0.0)])
    finally:
        root.removeAppender("hazard-probe")
        ctx.updateLoggers()
        appender.stop()
    log = writer.toString()
    for warning in HAZARD_WARNINGS:
        assert warning not in log, f"pipeline logged {warning!r}"


def _jobs(spark, tag, fn):
    """``fn()`` and the number of Spark jobs it submitted."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, "job-count probe")
    try:
        result = fn()
        return result, len(sc.statusTracker().getJobIdsForGroup(tag))
    finally:
        sc.setJobGroup(None, None)


def test_assemble_and_observe_job_budget(spark, sim_base):
    """Parse is one job, and assemble and observe share one grouped-map
    kernel per snapshot and its one checkpoint: assemble_runs is that
    kernel's shuffle and checkpoint, at most 2 jobs on the fixture grid
    whatever the number of runs (the dissolution cut is made by
    align_runs, with no action of its own), and observe only projects
    the checkpoint, with no job."""
    from nbody6_data_pipeline_spark.sources.nbody6 import load_runs

    pairs = [(r.label, r.path) for r in fetch_sim_runs(sim_base)]
    multi, n_parse = _jobs(spark, "budget-parse", lambda: load_runs(spark, pairs))
    aligned = align_runs(multi)
    rows, n_asm = _jobs(spark, "budget-assemble", lambda: assemble_runs(aligned))
    _, n_obs = _jobs(spark, "budget-observe", lambda: observe(rows))
    assert n_parse <= 2, n_parse
    assert n_asm <= 2, n_asm
    assert n_obs == 0, n_obs


def test_statistics_job_budget(spark, sim_base, tmp_path):
    """The observed and statistics tables are projections of the
    snapshot checkpoint: the statistics layers run only their parquet
    and CSV writes, at most 6 jobs together on the fixture grid, and
    the observe layer only its two parquet writes. Jobs are counted by
    job group and told apart by the layer description the pipeline
    sets."""
    store = spark.sparkContext._jsc.sc().statusStore()
    sc = spark.sparkContext
    sc.setJobGroup("budget-stats", "job-count probe")
    try:
        process_all(spark, sim_base, str(tmp_path / "out"))
        ids = sc.statusTracker().getJobIdsForGroup("budget-stats")
    finally:
        sc.setJobGroup(None, None)
    described = [store.job(i).description() for i in ids]
    layers = [d.get() for d in described if d.isDefined()]
    n_stats = sum(d in ("layer:overall_stats", "layer:annular_stats") for d in layers)
    assert 0 < n_stats <= 6, layers
    assert layers.count("layer:observe") <= 2, layers


def test_stats_csv_one_sorted_file_per_run(spark, sim_base, tmp_path):
    """Each run's overall and annular CSV is one file, sorted by the
    table's full key."""
    out = str(tmp_path / "out")
    process_all(spark, sim_base, out,
                coordinates=[(600.0, 0.0, 0.0), (50.0, 0.0, 0.0), (300.0, 0.0, 0.0)])
    obs = ["obs_x", "obs_y", "obs_z", "time"]
    for layer, key in (("overall_stats", obs),
                       ("annular_stats", [*obs, "dist_key", "radius"])):
        for run in (RUN1, RUN2):
            run_dir = os.path.join(out, "csv", layer, f"run_id={run}")
            files = [f for f in os.listdir(run_dir) if f.endswith(".csv")]
            assert len(files) == 1, (layer, run, files)
            with open(os.path.join(run_dir, files[0])) as f:
                rows = list(csv.DictReader(f))
            keys = [tuple(r[c] if c == "dist_key" else float(r[c]) for c in key)
                    for r in rows]
            assert len(keys) > 1 and keys == sorted(keys), (layer, run)
            assert len(set(keys)) == len(keys), (layer, run)


def _exact_hashes(out: str, layers=LAYERS) -> dict:
    """Order-insensitive hash of every value, floats unrounded, of
    ``layers`` (all seven by default)."""
    digests = {}
    for layer in layers:
        rows = pq.read_table(os.path.join(out, layer)).to_pylist()
        lines = sorted(repr(sorted(r.items())) for r in rows)
        digests[layer] = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return digests


def test_assemble_observe_layers_exact_across_partitioning(spark, sim_base, tmp_path):
    """The kernels sort each snapshot before every float reduction, the
    statistics included, so all seven layers hold the same exact values
    with 1 or 200 shuffle partitions, AQE on or off."""
    digests = []
    for parts in ("1", "200"):
        for aqe in ("true", "false"):
            out = str(tmp_path / f"out_{parts}_{aqe}")
            confs = {"spark.sql.shuffle.partitions": parts,
                     "spark.sql.adaptive.enabled": aqe}
            with scoped_conf(spark, confs):
                process_all(spark, sim_base, out,
                            coordinates=[(50.0, 0.0, 0.0), (600.0, 0.0, 0.0)],
                            is_slim=False)
            digests.append(_exact_hashes(out))
    assert all(d == digests[0] for d in digests), digests


def test_slim_run_writes_no_assembled_stars(spark, sim_base, tmp_path):
    """With the default ``is_slim=True`` the kernel leaves the
    assembled stars and binaries out: their layers are not written,
    and the other five layers hold exactly what an ``is_slim=False``
    run writes."""
    coords = [(50.0, 0.0, 0.0), (600.0, 0.0, 0.0)]
    slim, full = str(tmp_path / "slim"), str(tmp_path / "full")
    process_all(spark, sim_base, slim, coordinates=coords)
    process_all(spark, sim_base, full, coordinates=coords, is_slim=False)
    assert not os.path.exists(os.path.join(slim, "assembled_stars"))
    assert not os.path.exists(os.path.join(slim, "assembled_binary_systems"))
    rest = LAYERS[2:]
    assert _exact_hashes(slim, rest) == _exact_hashes(full, rest)
