"""ops.concurrency.run_parallel: every leg's result comes back, and a
failed leg re-raises only after every leg has joined, so nothing it
started is left running."""

from __future__ import annotations

import pytest

from dbitool_spark.ops.concurrency import run_parallel


def test_run_parallel_returns_all_legs_and_propagates_errors(spark):
    """run_parallel must hand back every leg's frame keyed by tag,
    re-raise a single leg failure as itself after joining (no silent
    partial composite), and raise several failures together as a
    BaseExceptionGroup carrying each leg's exception."""
    import pytest

    from dbitool_spark.ops.concurrency import run_parallel

    out = run_parallel(
        spark,
        [
            ("a", lambda: spark.range(3)),
            ("b", lambda: spark.range(5)),
        ],
    )
    assert out.keys() == {"a", "b"}
    assert out["a"].count() == 3 and out["b"].count() == 5

    def failing(msg):
        def leg():
            raise RuntimeError(msg)

        return leg

    with pytest.raises(RuntimeError, match="leg failed") as one:
        run_parallel(spark, [("ok", lambda: spark.range(1)), ("bad", failing("leg failed"))])
    assert type(one.value) is RuntimeError

    with pytest.raises(BaseExceptionGroup) as many:
        run_parallel(
            spark,
            [
                ("x", failing("x failed")),
                ("ok", lambda: spark.range(1)),
                ("y", failing("y failed")),
            ],
        )
    assert sorted(str(e) for e in many.value.exceptions) == ["x failed", "y failed"]
    assert all(type(e) is RuntimeError for e in many.value.exceptions)


def test_run_parallel_failed_leg_leaves_no_stream_running(spark, tmp_path):
    """Fault injection: one leg drains a file stream into a memory sink
    inside its own session.drain_session child while the other leg
    raises at once. run_parallel joins the drain before re-raising, so
    afterwards no query is active in the parent or the child and no
    memory-sink query is left registered; the drain itself finished
    (its sink holds every row) and its view lives only in the child."""
    from dbitool_spark import streaming
    from dbitool_spark.session import drain_session

    src = str(tmp_path / "src")
    spark.range(200).selectExpr("id", "cast(id % 7 as string) AS tag").repartition(
        4
    ).write.json(src)
    child = drain_session(spark)
    name = "fault_injection_sink"

    def drain_leg():
        stream = (
            child.readStream.schema("id bigint, tag string")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        streaming.drain_to_memory(stream, name)
        return child.table(name)

    def failing_leg():
        raise RuntimeError("injected leg failure")

    with pytest.raises(RuntimeError, match="injected leg failure"):
        run_parallel(spark, [("drain", drain_leg), ("boom", failing_leg)])
    try:
        assert spark.streams.active == []
        assert child.streams.active == []
        assert child.table(name).count() == 200
        assert not spark.catalog.tableExists(name)
    finally:
        child.catalog.dropTempView(name)
