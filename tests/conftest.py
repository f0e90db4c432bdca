import pytest

from pdf_extractor_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pdf_extractor_spark_tests", master="local[4]",
                  shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(op)`` runs ``op()`` and returns the Spark jobs it
    ran, as the change in ``dagScheduler().numTotalJobs()``: a job group
    would miss the jobs ``foreachBatch`` runs on the stream's own thread."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()

    def count(op) -> int:
        before = sched.numTotalJobs()
        op()
        return sched.numTotalJobs() - before

    return count


def pytest_terminal_summary(terminalreporter):
    """Name the golden-fixture skip: test_reference_golden.py skips as a
    module when the reference checkout is absent, and one ``s`` among
    hundreds of dots does not say the BHT fixture went unchecked."""
    skipped = [
        r for r in terminalreporter.stats.get("skipped", [])
        if "test_reference_golden.py" in r.nodeid
    ]
    if skipped:
        longrepr = skipped[0].longrepr
        reason = longrepr[-1] if isinstance(longrepr, tuple) else str(longrepr)
        terminalreporter.write_line(
            f"test_reference_golden.py: {len(skipped)} skipped ({reason}); "
            "the reference BHT golden fixture was not exercised"
        )
