"""The engine's Python worker daemon (nlp_lib_spark/worker_daemon.py).

* the path strip on synthetic paths, without Spark: a version mismatch
  changes nothing, a match removes Spark's zips and jar, and a non-Spark
  archive (the engine's own ``--py-files`` zip) always stays;
* on the shared session, the workers import pyspark from the driver's
  directory and keep no importer for a Spark archive;
* a ``--py-files`` job through ``scripts/package_and_submit.sh``, run
  outside the repo with ``PYTHONPATH`` unset, returns the single-process
  pipeline's triples.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

from nlp_lib_spark.worker_daemon import (purge_importers, spark_archives,
                                         strip_spark_archives)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VERSION = b"__version__: str = '9.9.9'\n"


def _zip(path, files: dict[str, bytes]) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in files.items():
            zf.writestr(name, data)
    return str(path)


@pytest.fixture
def layout(tmp_path, monkeypatch):
    """A Spark home with its three archives, a directory site holding
    pyspark and py4j, and an engine zip; sys.path_importer_cache is a
    throwaway copy so the probes leave no importer behind."""
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    home = tmp_path / "spark"
    site = tmp_path / "site"
    for pkg in ("pyspark", "py4j"):
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_bytes(VERSION)
    spark_zip = home / "python" / "lib" / "pyspark.zip"
    py4j_zip = home / "python" / "lib" / "py4j-0.10.9.9-src.zip"
    jar = home / "jars" / "spark-core_2.13.jar"
    _zip(py4j_zip, {"py4j/__init__.py": b""})
    _zip(jar, {"org/apache/spark/Dummy.class": b"\xca\xfe"})
    engine = _zip(tmp_path / "kgx.zip", {"nlp_lib_spark/__init__.py": b""})
    path = [str(spark_zip), str(py4j_zip), str(jar), engine, str(site)]
    return {"home": str(home), "spark_zip": spark_zip, "path": path,
            "engine": engine, "site": str(site)}


def test_strip_keeps_path_on_version_mismatch(layout):
    _zip(layout["spark_zip"],
         {"pyspark/__init__.py": b"",
          "pyspark/version.py": b"__version__: str = '9.9.8'\n"})
    assert strip_spark_archives(layout["path"], layout["home"]) \
        == layout["path"]


def test_strip_removes_spark_archives_on_identical_version(layout):
    _zip(layout["spark_zip"],
         {"pyspark/__init__.py": b"", "pyspark/version.py": VERSION})
    path = layout["path"]
    assert spark_archives(path, layout["home"]) == path[:3]
    # the engine's own zip is not Spark's, whatever it holds
    assert strip_spark_archives(path, layout["home"]) \
        == [layout["engine"], layout["site"]]
    # no Spark home: nothing is recognisably Spark's
    assert strip_spark_archives(path, None) == path


def test_strip_keeps_path_without_directory_py4j(layout):
    _zip(layout["spark_zip"],
         {"pyspark/__init__.py": b"", "pyspark/version.py": VERSION})
    shutil.rmtree(os.path.join(layout["site"], "py4j"))
    assert strip_spark_archives(layout["path"], layout["home"]) \
        == layout["path"]


def test_purge_importers_drops_archive_and_package_dirs(layout):
    spark_zip = str(layout["spark_zip"])
    keep = layout["engine"]
    for key in (spark_zip, spark_zip + "/pyspark", spark_zip + "/pyspark/sql",
                keep):
        sys.path_importer_cache[key] = None
    purge_importers([spark_zip])
    assert keep in sys.path_importer_cache
    assert not any(k.startswith(spark_zip) for k in sys.path_importer_cache)


def test_workers_import_pyspark_from_driver_directory(spark):
    import pyspark
    driver_dir = os.path.dirname(pyspark.__file__)
    if not os.path.isdir(driver_dir):
        pytest.skip("the driver imports pyspark from an archive")

    def probe(batches):  # nested: pickled by value, not by module name
        import zipimport

        import pandas as pd
        import pyspark
        for _ in batches:
            pass
        archives = sorted({z.archive
                           for z in sys.path_importer_cache.values()
                           if isinstance(z, zipimport.zipimporter)})
        yield pd.DataFrame({
            "pyspark_dir": [os.path.dirname(pyspark.__file__)],
            "archives": [json.dumps(archives)]})

    rows = (spark.range(0, 2, 1, 2)
            .mapInPandas(probe, "pyspark_dir string, archives string")
            .collect())
    assert len(rows) == 2
    for r in rows:
        assert r.pyspark_dir == driver_dir
        left = [a for a in json.loads(r.archives)
                if os.path.basename(a) == "pyspark.zip"
                or os.path.basename(a).startswith("py4j-")
                or a.endswith(".jar")]
        assert left == []


_JOB = """\
import json
import nlp_lib_spark
from nlp_lib_spark.fixtures import FIXTURE_CONFIG, generate_transcripts
from nlp_lib_spark.operators.extract import extract_triples
from nlp_lib_spark.session import get_spark

spark = get_spark(app="worker-daemon-submit", cpus=2, driver_memory="1g")
turns, _ = generate_transcripts(n_convs=4, seed=7)
df = spark.createDataFrame(
    [(c, t, x) for c, t, _r, x, _tool, _ts in turns],
    "conv_id string, turn_idx int, text string")
rows = [list(r) for r in extract_triples(df, FIXTURE_CONFIG).collect()]
print("RESULT=" + json.dumps({"engine": nlp_lib_spark.__file__,
                              "rows": rows}))
spark.stop()
"""


@pytest.mark.skipif(shutil.which("spark-submit") is None
                    or shutil.which("zip") is None,
                    reason="spark-submit or zip not on PATH")
def test_package_and_submit_runs_from_py_files_zip(tmp_path):
    from nlp_lib_spark.fixtures import FIXTURE_CONFIG, generate_transcripts
    from nlp_lib_spark.kernels.pipeline import extract_turn

    job = tmp_path / "job.py"
    job.write_text(_JOB)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "spark-local")
    proc = subprocess.run(
        [os.path.join(REPO, "scripts", "package_and_submit.sh"), str(job)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = next(x for x in proc.stdout.splitlines()
                if x.startswith("RESULT="))
    out = json.loads(line[len("RESULT="):])
    assert ".zip" in out["engine"], out["engine"]

    rt = FIXTURE_CONFIG.build()
    turns, _ = generate_transcripts(n_convs=4, seed=7)
    expected = sorted([c, t, *row] for c, t, _r, x, _tool, _ts in turns
                      if x for row in extract_turn(rt, x))
    assert expected
    assert sorted(out["rows"]) == expected
