"""Port of the reference's parallel_classifier correctness app
(`testing/correctness/apps/parallel_classifier/parallel_classifier.py` +
`validate.py`): every message is tagged with the OS PID of the worker that
processed it; validation asserts (1) no message is lost or duplicated and
(2) the work really spread across multiple workers (distinct PIDs ==
worker parallelism, here: > 1 Python worker process)."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from wallaroo_spark.api import Pipeline


def test_parallel_classifier_tags_pids_losslessly(spark):
    n = 2000

    def classify(batches):
        # reference `classify`: str(x) + ":" + PID  (imperative => pandas path)
        import os

        import pandas as _pd

        pid = str(os.getpid())
        for pdf in batches:
            yield _pd.DataFrame(
                {"tagged": [f"{m}:{pid}" for m in pdf["msg"]]}
            )

    df = spark.createDataFrame([Row(msg=f"m{i}") for i in range(n)])
    p = (
        Pipeline.source_df(df)
        .key_by("msg")  # key_by(str(msg)) in the app: full key spread
        .to_pandas(classify, "tagged string")
    )
    rows = [r.tagged for r in p.df.collect()]

    # validate.py rule 1: n_input_items == n_output_ids, nothing lost/duped
    msgs = sorted(t.rsplit(":", 1)[0] for t in rows)
    assert msgs == sorted(f"m{i}" for i in range(n))
    # validate.py rule 2: the classify stage ran on multiple workers
    pids = {t.rsplit(":", 1)[1] for t in rows}
    assert len(pids) > 1, pids


def test_python_workers_reused_across_tasks(spark):
    """Sequential Python tasks run in warm workers: after the first job,
    each job's task runs in a worker that existed before the job was
    submitted, not in one forked for it (which would import pandas and
    pyarrow again, ~0.28 s, most of a streaming micro-batch's fixed cost).
    Idle workers are handed out first-in first-out, so in a long session
    the jobs may each get a different warm worker; start times, not pids,
    tell warm from fresh. Both clocks are the boot clock in /proc."""

    def started(batches):
        import os

        import pandas as _pd

        for _ in batches:
            pass
        with open("/proc/self/stat") as fh:  # field 22: start time in ticks
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        yield _pd.DataFrame({"start_s": [ticks / os.sysconf("SC_CLK_TCK")]})

    def uptime_s():
        with open("/proc/uptime") as fh:
            return float(fh.read().split()[0])

    df = spark.range(1, numPartitions=1).mapInPandas(started, "start_s double")
    warm = 0
    for _ in range(8):
        submitted = uptime_s()
        warm += df.collect()[0].start_s < submitted
    assert warm >= 7, warm
