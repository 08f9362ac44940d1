"""Pins the event-log parser on a tiny planted run:

    python3 -m pytest perfbench/test_eventlog.py -q

A pandas-UDF plan (pipeline A) must show Python-worker time; pipeline B
must show none, and no shuffle. The Spark part runs in a child process
(this file run as a script), so the test leaves the calling process's
environment and any SparkContext in it untouched.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import eventlog
import inputs
import run


def _planted_run(work: str) -> None:
    """Write tiny inputs, run both plans into a noop sink with the event
    log on, and record each plan's wall-clock window in windows.json."""
    sys.path.insert(0, run.ROOT)
    from deepseek_ocr_spark.operators.extraction import extract_pdf
    from deepseek_ocr_spark.operators.spans_pipeline import extract_spans
    from deepseek_ocr_spark.session import get_spark

    pages, docs = os.path.join(work, "pages"), os.path.join(work, "documents")
    inputs.write_files(inputs.pages_table(inputs.pages_docs(7, 40)), pages)
    inputs.write_files(inputs.documents_table(inputs.documents_rows(7, 40)), docs)
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark = get_spark(parallelism=2, app_name="perfbench-test",
                      extra_conf=eventlog.conf(log_dir))
    try:
        windows = []
        for plan in (lambda: extract_pdf(spark.read.parquet(pages)),
                     lambda: extract_spans(spark.read.parquet(docs))):
            t0 = time.time()
            plan().write.format("noop").mode("overwrite").save()
            windows.append((t0, time.time()))
            time.sleep(0.05)  # keep the windows' millisecond stamps apart
    finally:
        spark.stop()
        run._stop_jvm()
    with open(os.path.join(work, "windows.json"), "w") as f:
        json.dump(windows, f)


def test_python_and_shuffle_attribution(tmp_path):
    env = {**os.environ, **run.spark_env(str(tmp_path), "1g")}
    subprocess.run([sys.executable, __file__, str(tmp_path)], env=env, check=True, timeout=600)
    windows = json.loads((tmp_path / "windows.json").read_text())
    log_dir = str(tmp_path / "eventlog")

    udf = eventlog.summarize(log_dir, *windows[0], n_ops=1)
    b = eventlog.summarize(log_dir, *windows[1], n_ops=1)
    assert udf["spark.jobs"] >= 1 and b["spark.jobs"] >= 1
    assert udf["spark.python_run_s"] > 0
    assert udf["spark.shuffle_write_mb"] > 0  # pipeline A's one shuffle
    assert b["spark.python_run_s"] == 0
    assert b["spark.shuffle_write_mb"] == 0
    assert b["spark.executor_run_s"] > 0


if __name__ == "__main__":
    _planted_run(sys.argv[1])
