import pytest


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "fixture_files: the test reads external fixture files; when they are"
        " missing the run summary lists it (its outcome is left as it is)",
    )


def _missing_fixture_reason(rep):
    if rep.skipped and isinstance(rep.longrepr, tuple):
        return rep.longrepr[2]  # e.g. an empty parametrization over the files
    if rep.failed:
        crash = getattr(rep.longrepr, "reprcrash", None)
        msg = crash.message if crash is not None else str(rep.longrepr)
        if "FileNotFoundError" in msg or "No such file" in msg:
            return msg
    return None


def pytest_terminal_summary(terminalreporter):
    rows = []
    for outcome in ("failed", "error", "skipped"):
        for rep in terminalreporter.stats.get(outcome, []):
            if "fixture_files" not in rep.keywords:
                continue
            reason = _missing_fixture_reason(rep)
            if reason is not None:
                rows.append(f"{outcome.upper()} {rep.nodeid} - {reason}")
    if rows:
        terminalreporter.section("fixture-dependent tests that could not run")
        for row in rows:
            terminalreporter.write_line(row)


@pytest.fixture(scope="session")
def spark():
    from parquet4seastar_spark.engine.session import get_spark

    spark = get_spark(app_name="p4s-tests", master="local[4]", shuffle_partitions=4)
    yield spark
    spark.stop()
