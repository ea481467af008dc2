"""One engine session for every entry point: the conf table in
tmframe_spark/session.py is the only place a SparkSession is built."""

import pathlib


def test_session_builder_lives_only_in_session_py():
    # a job or script building its own session silently misses the engine
    # confs (worker daemon, UDS workers, AQE/Arrow, UTC); they all go
    # through session.engine_builder / get_spark
    root = pathlib.Path(__file__).resolve().parents[1]
    own = root / "tmframe_spark" / "session.py"
    offenders = [
        str(src.relative_to(root))
        for d in ("jobs", "scripts", "tmframe_spark")
        for src in sorted((root / d).rglob("*.py"))
        if src != own and "SparkSession.builder" in src.read_text()
    ]
    assert offenders == []
    assert "SparkSession.builder" in own.read_text()  # the guard scans the real tree
