"""The session's Python workers: they start from ``pic2vec_spark.daemon``
(see session.py), keep Spark's import and error behaviour, and start
from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
from collections import defaultdict
from pathlib import Path

import pandas as pd
import pytest
from pyspark.errors import PythonException

REPO_ROOT = Path(__file__).resolve().parents[1]


def _worker_state_udf():
    """A mapInPandas function reporting its worker's daemon, path and GC
    state (nested, so cloudpickle ships it by value)."""

    def _worker_state(batches):
        import gc
        import os
        import sys
        import zipimport

        for _ in batches:
            pass
        main_spec = getattr(sys.modules["__main__"], "__spec__", None)
        stray = [
            key
            for key, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter) and key != finder.archive
        ]
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "main": [main_spec.name if main_spec else ""],
                "jars": [sum(p.endswith(".jar") for p in sys.path)],
                "stray": [len(stray)],
                "frozen": [gc.get_freeze_count()],
            }
        )

    return _worker_state


_STATE_SCHEMA = "pid long, main string, jars long, stray long, frozen long"


def test_workers_run_the_engine_daemon(spark):
    df = spark.range(0, 64, 1, 16)
    runs = [
        df.mapInPandas(_worker_state_udf(), _STATE_SCHEMA).toPandas() for _ in range(3)
    ]
    state = pd.concat(runs, ignore_index=True)
    assert set(state["main"]) == {"pic2vec_spark.daemon"}
    assert (state["jars"] == 0).all()
    assert (state["stray"] == 0).all()
    # 48 tasks over at most 8 reused workers: some worker runs several, and
    # from its second task on its pre-task heap is frozen.
    tasks = defaultdict(list)
    for pid, frozen in zip(state["pid"], state["frozen"]):
        tasks[pid].append(frozen)
    repeated = {pid: f for pid, f in tasks.items() if len(f) >= 2}
    assert repeated
    for frozen in repeated.values():
        assert max(frozen) > 0


def test_py_files_added_after_workers_start_import(spark, tmp_path):
    df = spark.range(0, 8, 1, 4)
    df.mapInPandas(_worker_state_udf(), _STATE_SCHEMA).count()  # workers are up

    module = tmp_path / "p2v_shipped_module.py"
    module.write_text("VALUE = 17\n")
    archive = tmp_path / "p2v_shipped_archive.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("p2v_shipped_pkg/__init__.py", "")
        zf.writestr("p2v_shipped_pkg/sub/__init__.py", "VALUE = 23\n")
    spark.sparkContext.addPyFile(str(module))
    spark.sparkContext.addPyFile(str(archive))

    def use_shipped(batches):
        import p2v_shipped_module
        import p2v_shipped_pkg.sub

        for pdf in batches:
            yield pd.DataFrame(
                {"v": pdf["id"] * 0 + p2v_shipped_module.VALUE + p2v_shipped_pkg.sub.VALUE}
            )

    for _ in range(2):
        out = df.mapInPandas(use_shipped, "v long").toPandas()
        assert out["v"].tolist() == [40] * 8


def test_udf_errors_still_surface(spark):
    def boom(batches):
        for _ in batches:
            raise ValueError("boom")
        yield pd.DataFrame({"id": []})

    with pytest.raises(PythonException, match="boom"):
        spark.range(0, 4, 1, 2).mapInPandas(boom, "id long").collect()


_CHILD = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {root!r})
    import pandas as pd
    from pic2vec_spark import featurize_images
    from pic2vec_spark.session import get_spark
    from pic2vec_spark.synth import IMAGES_SCHEMA, synth_images_pdf

    def plus_one(batches):
        for pdf in batches:
            yield pdf + 1

    spark = get_spark("cwd_check", parallelism=1)
    ids = spark.range(0, 3).mapInPandas(plus_one, "id long").toPandas()
    assert ids["id"].tolist() == [1, 2, 3], ids
    images = spark.createDataFrame(synth_images_pdf(2, seed=3), schema=IMAGES_SCHEMA)
    feats = featurize_images(images).toPandas()
    assert len(feats) == 2, feats
    print("CHILD_OK")
    spark.stop()
    """
)


def test_session_works_outside_the_repository(tmp_path):
    script = tmp_path / "child.py"
    script.write_text(_CHILD.format(root=str(REPO_ROOT)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0 and "CHILD_OK" in proc.stdout, proc.stderr[-4000:]
