"""Tests for sources (readers/writers) and streaming."""

import os

import pytest
from pyspark.sql import functions as F

from hillview_spark.sources import readers, writers
from hillview_spark.streaming import events as ev
from hillview_spark.tables import load_table


def test_csv_roundtrip_and_corrupt_tolerance(spark, tmp_path):
    p = str(tmp_path / "csv")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    writers.write_csv(df, p)
    back = readers.read_csv(spark, p, schema="id int, s string")
    assert sorted(map(tuple, back.collect())) == [(1, "a"), (2, "b")]
    # malformed row -> nulls, not failure (PERMISSIVE)
    bad = str(tmp_path / "bad.csv")
    with open(bad, "w") as f:
        f.write("id,s\n1,a\nnot_an_int,b\n")
    out = readers.read_csv(spark, bad, schema="id int, s string").collect()
    assert len(out) == 2


def test_json_orc_parquet_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    for name, write, read in [
        ("json", writers.write_json, readers.read_json),
        ("orc", writers.write_orc, readers.read_orc),
        ("parquet", writers.write_parquet, readers.read_parquet),
    ]:
        p = str(tmp_path / name)
        write(df, p)
        back = read(spark, p)
        assert sorted((r.id, r.s) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_partitioned_write_prunes(spark, tmp_path):
    p = str(tmp_path / "part")
    df = spark.createDataFrame(
        [(i, "x" if i % 2 else "y") for i in range(10)], "id int, k string"
    )
    writers.write_parquet(df, p, partition_by=["k"])
    assert os.path.isdir(os.path.join(p, "k=x"))
    back = readers.read_parquet(spark, p).where(F.col("k") == "x")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == 5
    # partition filter must prune at the scan, not post-filter
    assert "PartitionFilters: [" in plan and "k#" in plan.split("PartitionFilters")[1][:200]


def test_log_reader_parses_and_flags_errors(spark, tmp_path):
    p = str(tmp_path / "app.log")
    with open(p, "w") as f:
        f.write("2024-01-01 12:00:00,123 INFO [main] started ok\n")
        f.write("2024-01-01 12:00:01,456 ERROR [worker-1] boom\n")
        f.write("this line is garbage\n")
    out = readers.read_logs(spark, p, "hillview").collect()
    by_raw = {r.raw_line: r for r in out}
    ok = by_raw["2024-01-01 12:00:00,123 INFO [main] started ok"]
    assert (ok.level, ok.module, ok.message) == ("INFO", "main", "started ok")
    assert not ok.parse_error
    assert by_raw["this line is garbage"].parse_error


def test_log_reader_named_patterns(spark, tmp_path):
    """Each named Grok-style pattern (reference GrokLogs.java +
    resources/patterns/log-patterns) parses its format into typed
    columns, with a derived `ts` timestamp where the format allows."""
    import datetime

    cases = {
        "syslog": (
            "Jan  2 03:04:05 myhost sshd[4321]: accepted connection",
            {"host": "myhost", "proc": "sshd", "pid": 4321,
             "message": "accepted connection"},
        ),
        "hadoop": (
            "2024-03-04 05:06:07,890 WARN block replication lagging",
            {"level": "WARN", "message": "block replication lagging",
             "ts": datetime.datetime(2024, 3, 4, 5, 6, 7, 890000)},
        ),
        "apache_combined": (
            '10.0.0.1 - frank [05/Jun/2024:13:14:15 +0000] '
            '"GET /index.html HTTP/1.1" 200 2326 '
            '"http://ref.example" "Mozilla/5.0"',
            {"client_ip": "10.0.0.1", "auth": "frank", "verb": "GET",
             "request": "/index.html", "http_version": "1.1",
             "response": 200, "bytes": 2326,
             "referrer": "http://ref.example", "agent": "Mozilla/5.0",
             "ts": datetime.datetime(2024, 6, 5, 13, 14, 15)},
        ),
        "rfc5424": (
            "<165>1 2024-06-05T13:14:15.003Z host01 evntslog 1234 ID47 "
            '[exampleSDID@32473 iut="3"] An application event',
            {"priority": 165, "version": 1, "hostname": "host01",
             "appname": "evntslog", "procid": "1234",
             "message_id": "ID47", "message": "An application event",
             "ts": datetime.datetime(2024, 6, 5, 13, 14, 15, 3000)},
        ),
        "app_rfc3339": (
            "2024-06-05T13:14:15.500Z ERROR my.app.Service request failed",
            {"level": "ERROR", "logger": "my.app.Service",
             "message": "request failed",
             "ts": datetime.datetime(2024, 6, 5, 13, 14, 15, 500000)},
        ),
    }
    for pattern, (line, expected) in cases.items():
        p = str(tmp_path / f"{pattern}.log")
        with open(p, "w") as f:
            f.write(line + "\n")
            f.write("###garbage###\n")
        rows = {r.raw_line: r for r in readers.read_logs(spark, p, pattern).collect()}
        got = rows[line]
        assert not got.parse_error, pattern
        for field, want in expected.items():
            assert getattr(got, field) == want, (pattern, field, getattr(got, field))
        assert rows["###garbage###"].parse_error, pattern
    # apache '-' bytes -> NULL long, not a parse failure
    p = str(tmp_path / "apache2.log")
    dash = ('10.0.0.2 - - [05/Jun/2024:13:14:16 +0000] "HEAD / HTTP/1.1" '
            '304 - "-" "curl/8"')
    with open(p, "w") as f:
        f.write(dash + "\n")
    r = readers.read_logs(spark, p, "apache_combined").collect()[0]
    assert not r.parse_error and r.response == 304 and r.bytes is None


def test_jdbc_reader_roundtrip_and_partitioned(spark):
    """Federated-table load (reference storage/jdbc) against the
    in-JVM Derby engine — a real JDBC source, no external server."""
    jvm = spark._sc._jvm
    conn = jvm.java.sql.DriverManager.getConnection(
        "jdbc:derby:memory:jdbctest;create=true"
    )
    st = conn.createStatement()
    st.execute("CREATE TABLE t_src (id INT, name VARCHAR(20))")
    for i in range(20):
        st.execute(f"INSERT INTO t_src VALUES ({i}, 'n{i}')")
    conn.commit()

    plain = readers.read_jdbc(spark, "jdbc:derby:memory:jdbctest", "t_src")
    assert plain.count() == 20

    # partitioned read: splits the table into parallel range scans
    part = readers.read_jdbc(
        spark, "jdbc:derby:memory:jdbctest", "t_src",
        partition_column="id", num_partitions=4,
        lower_bound=0, upper_bound=20,
    )
    assert part.rdd.getNumPartitions() == 4
    assert sorted(r.ID for r in part.collect()) == list(range(20))


def test_file_metadata(spark):
    meta = readers.file_metadata(spark, "/root/testdata/sf0.001/nation.parquet")
    r = meta.first()
    assert r.n_bytes > 0 and r.path.endswith("nation.parquet")


def test_stream_matches_batch(spark, tmp_path):
    d = str(tmp_path / "events_dir")
    os.makedirs(d)
    os.symlink(
        "/root/testdata/sf0.001/events.parquet", os.path.join(d, "events.parquet")
    )
    raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sdf = ev.stream_windowed_counts(spark, d, raw.schema)
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_wincounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM t_wincounts").collect()
    }
    batch = ev.windowed_counts(
        load_table(spark, "/root/testdata/sf0.001", "events"), "hour"
    )
    batch_rows = {
        (r.window_start, r.event_type): r.n_events for r in batch.collect()
    }
    assert stream_rows == batch_rows


def test_stream_windowed_distinct_approx_bounded_error(spark, tmp_path):
    """r11 scale sibling: HLL per-window distinct (the O(1)-state
    path — exact streaming dedup state is O(entities per horizon))
    must track the exact twin within a generous multiple of the
    requested rsd on every released cell. Pytest-only by declared
    design: HLL estimates are engine-specific, so there is no SQL
    oracle (the same policy as stats.distinct_count_approx)."""
    d = str(tmp_path / "events_dir")
    os.makedirs(d)
    os.symlink(
        "/root/testdata/sf0.001/events.parquet", os.path.join(d, "events.parquet")
    )
    raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sdf = ev.stream_windowed_distinct_approx(spark, d, raw.schema, rsd=0.05)
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_windistinct_approx")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    approx = {
        (r.window_start, r.event_type): r.n_distinct_approx
        for r in spark.sql("SELECT * FROM t_windistinct_approx").collect()
    }
    exact = {
        (r.window_start, r.event_type): r.n_distinct
        for r in ev.windowed_distinct(
            load_table(spark, "/root/testdata/sf0.001", "events")
        ).where(F.col("window_start").isNotNull()).collect()
    }
    assert set(approx) == set(exact)
    for cell, est in approx.items():
        n = exact[cell]
        assert abs(est - n) <= max(2, 4 * 0.05 * n), (cell, est, n)


def test_stream_dp_windowed_counts_matches_batch(spark, tmp_path):
    """The DP continual release streams: cell-keyed Catalyst noise
    makes the streaming twin equal the batch release bit-for-bit."""
    d = str(tmp_path / "events_dir")
    os.makedirs(d)
    os.symlink(
        "/root/testdata/sf0.001/events.parquet", os.path.join(d, "events.parquet")
    )
    raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sdf = ev.stream_dp_windowed_counts(spark, d, raw.schema, epsilon=1.0, seed=3)
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_dp_wincounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {
        (r.window_start, r.event_type): r.noisy_events
        for r in spark.sql("SELECT * FROM t_dp_wincounts").collect()
    }
    batch_rows = {
        (r.window_start, r.event_type): r.noisy_events
        for r in ev.dp_windowed_counts(
            load_table(spark, "/root/testdata/sf0.001", "events"), "hour", 1.0, seed=3
        ).collect()
    }
    assert stream_rows == batch_rows


def test_sessionize_gap_semantics(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 100),
        (1, base + dt.timedelta(minutes=10), 101),
        (1, base + dt.timedelta(minutes=50), 102),  # 40min gap -> new session
        (2, base, 200),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    out = ev.sessionize(df, gap_minutes=30).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append((r.session_id, r.n_events))
    assert sorted(per_user[1]) == [(1, 2), (2, 1)]
    assert per_user[2] == [(1, 1)]


def test_stream_dedup_matches_batch(spark, tmp_path):
    """Redelivered events collapse to one copy; result matches batch
    dropDuplicates on the same key."""
    import datetime as dt
    import os

    src = str(tmp_path / "dedup_src")
    os.makedirs(src)
    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    rows = [
        (1, base, 1, "click", 1.0),
        (1, base, 1, "click", 1.0),               # exact redelivery
        (2, base + dt.timedelta(minutes=1), 1, "click", 2.0),
        (2, base + dt.timedelta(minutes=1), 2, "view", 9.0),  # same id, dup
        (3, base + dt.timedelta(minutes=2), 2, "view", 3.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b1"))
    schema = spark.read.parquet(os.path.join(src, "b1")).schema

    from hillview_spark.streaming import events as ev

    out_dir = str(tmp_path / "out")
    q = (
        ev.stream_dedup(spark, os.path.join(src, "*"), schema, ["event_id"])
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    assert got.count() == 3
    assert {r.event_id for r in got.collect()} == {1, 2, 3}


def test_stream_heavy_hitters_matches_batch(spark, tmp_path):
    """Windowed streaming heavy hitters emit the same survivors as
    the equivalent batch groupBy-having once windows close."""
    import datetime as dt
    import os

    src = str(tmp_path / "hh_src")
    os.makedirs(src)
    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    rows = (
        [(i, base + dt.timedelta(minutes=i % 10), 7, "click", 1.0)
         for i in range(6)]                      # user 7: 6 events in window
        + [(10, base + dt.timedelta(minutes=3), 8, "click", 1.0)]  # user 8: 1
        + [(11 + j, base + dt.timedelta(minutes=20 + j), 9, "click", 1.0)
           for j in range(3)]                    # user 9: 3 in next window
    )
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b1"))
    schema = spark.read.parquet(os.path.join(src, "b1")).schema
    # a later batch to advance the watermark past both windows
    spark.createDataFrame(
        [(99, base + dt.timedelta(hours=5), 1, "click", 1.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b2"))

    from hillview_spark.streaming import events as ev

    out_dir = str(tmp_path / "out")
    for _ in range(2):  # two triggers share the checkpoint
        q = (
            ev.stream_heavy_hitters(
                spark, os.path.join(src, "*"), schema,
                col="user_id", window_duration="10 minutes",
                watermark="1 hour", min_count=2,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    got = {(r.user_id, r.n) for r in spark.read.parquet(out_dir).collect()}
    # user 7 (6 events) and user 9 (3 events) survive; user 8 doesn't
    assert (7, 6) in got and (9, 3) in got
    assert not any(u == 8 for u, _ in got)


def test_stream_sliding_matches_batch(spark, tmp_path):
    d = str(tmp_path / "events_sl")
    os.makedirs(d)
    os.symlink(
        "/root/testdata/sf0.001/events.parquet", os.path.join(d, "events.parquet")
    )
    raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sdf = ev.stream_sliding_counts(spark, d, raw.schema)
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_slide")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM t_slide").collect()
    }
    batch = {
        (r.window_start, r.event_type): r.n_events
        for r in ev.sliding_window_counts(
            load_table(spark, "/root/testdata/sf0.001", "events")
        ).collect()
    }
    assert stream_rows == batch


def test_stream_stream_join_matches_batch(spark, tmp_path):
    d = str(tmp_path / "events_ssj")
    os.makedirs(d)
    os.symlink(
        "/root/testdata/sf0.001/events.parquet", os.path.join(d, "events.parquet")
    )
    raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sdf = ev.stream_click_purchase_join(spark, d, raw.schema)
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_ssjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_pairs = {
        (r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM t_ssjoin").collect()
    }
    batch_pairs = {
        (r.click_id, r.purchase_id)
        for r in ev.click_purchase_pairs(
            load_table(spark, "/root/testdata/sf0.001", "events")
        ).collect()
    }
    assert stream_pairs == batch_pairs and len(batch_pairs) > 0


def test_stream_dp_prefix_counts_matches_batch(spark, tmp_path):
    """Continual counter: every hour the stream releases (watermark
    passed) must carry exactly the batch twin's noisy prefix — same
    seeded k-adic noise, same cumulative count."""
    d = str(tmp_path / "events_dir")
    os.makedirs(d)
    os.symlink(
        "/root/testdata/sf0.001/events.parquet", os.path.join(d, "events.parquet")
    )
    raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sdf = ev.stream_dp_prefix_counts(
        spark, d, raw.schema, epsilon=1.0, seed=3
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_dp_prefix")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r.event_type, r.window_start): r.noisy_prefix
        for r in spark.sql("SELECT * FROM t_dp_prefix").collect()
    }
    batch = {
        (r.event_type, r.window_start): r.noisy_prefix
        for r in ev.dp_prefix_counts(
            load_table(spark, "/root/testdata/sf0.001", "events"), 1.0,
            seed=3,
        ).collect()
    }
    assert streamed  # watermark passed at least the early hours
    for k, v in streamed.items():
        assert batch[k] == v
    # the stream withholds only the watermark tail, nothing else
    released_per_type = {}
    for (et, ws) in streamed:
        released_per_type.setdefault(et, set()).add(ws)
    for (et, ws) in batch:
        if any(ws < max(rel) for rel in [released_per_type.get(et, set())] if rel):
            assert (et, ws) in streamed


def test_read_csv_corrupt_record_column_materializes(spark, tmp_path):
    bad = str(tmp_path / "c.csv")
    with open(bad, "w") as f:
        f.write("id,s\n1,a\nnot_an_int,b\n")
    # inferred path must still expose _corrupt_record for error counts
    df = readers.read_csv(spark, bad)
    assert "_corrupt_record" in df.columns
    # Spark disallows queries pruned down to only the corrupt-record
    # column — materialize whole rows and count in Python
    df2 = readers.read_csv(
        spark, bad, schema="id int, s string", keep_corrupt=True
    )
    rows = df2.collect()
    assert sum(r._corrupt_record is not None for r in rows) == 1
    # a pinned schema without the flag returns exactly the declared
    # columns; malformed rows survive as padded NULLs
    df3 = readers.read_csv(spark, bad, schema="id int, s string")
    assert df3.columns == ["id", "s"]
    assert df3.count() == 2


def test_read_jdbc_requires_bounds_with_partition_column(spark):
    with pytest.raises(ValueError, match="lower_bound"):
        readers.read_jdbc(spark, "jdbc:derby:memory:x", "t", partition_column="id")


# ------------------------------------------------- reference sample logs

REF_LOGS = "/root/reference/data/sample_logs"


@pytest.mark.skipif(not os.path.isdir(REF_LOGS), reason="reference absent")
def test_read_logs_reference_sample_files(spark, tmp_path):
    """End-to-end over BYTE-COPIES of the reference's own sample logs
    (data/sample_logs/*, the fixtures storage/HillviewLogs.java and
    its grok patterns were built against) — typed ts where the format
    carries one, exact parse accounting elsewhere."""
    import shutil

    def load(name, pattern):
        dst = str(tmp_path / f"{name}.txt")
        shutil.copyfile(os.path.join(REF_LOGS, name), dst)
        return readers.read_logs(spark, dst, pattern=pattern).collect()

    # %{HADOOP}-family, addressed by the REFERENCE's own pattern
    # names (log-patterns:19-25 aliases) — parse fully
    for name, nrows in [("zookeeperlog", 12), ("hdfsnamenodelog", 9)]:
        rows = load(name, name)
        assert len(rows) == nrows
        assert all(not r.parse_error for r in rows)
        assert all(r.ts is not None for r in rows)  # typed TIMESTAMP
        assert {r.level for r in rows} <= {
            "TRACE", "DEBUG", "INFO", "WARN", "ERROR", "FATAL"
        }

    # yarnlog interleaves multi-line continuation dumps: exactly the
    # 113 true log lines parse, the 87 continuation lines surface as
    # parse_error with the raw line intact (ParseErrorsSketch shape)
    rows = load("yarnlog", "hadoop")
    parsed = [r for r in rows if not r.parse_error]
    assert (len(rows), len(parsed)) == (200, 113)
    assert all(r.ts is not None and r.message for r in parsed)

    # syslog: all 42 lines parse; pid is typed long where present
    rows = load("syslog", "syslog")
    assert len(rows) == 42 and all(not r.parse_error for r in rows)
    assert {r.host for r in rows} == {"hillview-leaf-1"}
    assert any(isinstance(r.pid, int) for r in rows)

    # rfc5424: 8 real lines parse with ISO ts + int priority; the
    # trailing empty line is a parse_error row
    rows = load("rfc5424log", "rfc5424")
    parsed = [r for r in rows if not r.parse_error]
    assert (len(rows), len(parsed)) == (9, 8)
    assert all(r.ts is not None and r.priority >= 0 for r in parsed)

    # vsantrace: all 287 lines, typed ts + counter/cpu + arguments
    rows = load("vsantracelog", "vsantrace")
    assert len(rows) == 287 and all(not r.parse_error for r in rows)
    assert all(
        r.ts is not None and r.counter > 0 and r.arguments.startswith("{")
        for r in rows
    )

    # blocktrace: 199 of 200 parse (one malformed '+848' offset line
    # the reference grok also rejects); typed device/cpu/time fields
    rows = load("blockTracelog", "blocktrace")
    parsed = [r for r in rows if not r.parse_error]
    assert (len(rows), len(parsed)) == (200, 199)
    assert all(r.time >= 0 and r.action and r.process for r in parsed)

    # nsxt proton/proxy: API-access logs, ISO ts + int response/bytes
    rows = load("nsxtprotonlog", "nsxt_proton")
    assert len(rows) == 8 and all(not r.parse_error for r in rows)
    assert all(r.ts is not None and r.response == 200 for r in rows)
    rows = load("nsxtproxylog", "nsxt_proxy")
    assert len(rows) == 5 and all(not r.parse_error for r in rows)
    assert all(r.hostname and r.uri.startswith("/") for r in rows)


# --------------------------------------- DP prefix counter restart proof


def test_stream_dp_prefix_counts_restart_no_double_draw(spark, tmp_path):
    """Kill-restart across a checkpoint: the continual counter's
    released cumulative counts must stay BIT-IDENTICAL to the batch
    twin across the restart boundary — state (cumulative + open
    hours) must survive, and the Chan-Song-Shi per-node noise must
    not be re-drawn with a different key."""
    import datetime as dt
    import glob
    import math
    import shutil

    from hillview_spark.operators.privacy import interval_noise, noise_scale

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(src)
    base = dt.datetime(2024, 6, 1, 0, 0, 0)

    def mk_rows(start_min, step_min, count, id0):
        return [
            (
                id0 + i,
                base + dt.timedelta(minutes=start_min + step_min * i),
                1,
                "click" if i % 3 else "view",
                1.0,
            )
            for i in range(count)
        ]

    schema_str = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    rows1 = mk_rows(0, 7, 40, 0)        # ~0h .. 4.6h
    rows2 = mk_rows(300, 11, 40, 100)   # 5h .. ~12.2h

    def add_batch(rows, name):
        tmp = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, schema_str).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        shutil.copyfile(part, os.path.join(src, f"{name}.parquet"))

    schema = spark.createDataFrame([], schema_str).schema

    def run_once():
        sdf = ev.stream_dp_prefix_counts(spark, src, schema, epsilon=1.0, seed=11)
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    add_batch(rows1, "b1")
    run_once()  # first life of the query
    first_life = {
        (r.event_type, r.window_start): r.noisy_prefix
        for r in spark.read.parquet(out).collect()
    }
    assert first_life  # watermark released the early hours

    add_batch(rows2, "b2")
    run_once()  # RESTART from the same checkpoint, only b2 is new

    released = spark.read.parquet(out).collect()
    got = {}
    for r in released:
        k = (r.event_type, r.window_start)
        assert k not in got, f"hour released twice across restart: {k}"
        got[k] = r.noisy_prefix

    batch = {
        (r.event_type, r.window_start): r.noisy_prefix
        for r in ev.dp_prefix_counts(
            spark.createDataFrame(rows1 + rows2, schema_str), 1.0, seed=11
        ).collect()
    }
    for k, v in got.items():
        assert batch[k] == v, f"restart drifted from batch twin at {k}"
    # second life released hours whose prefix INCLUDES first-life
    # events — proves the cumulative survived the restart
    second_life = {k for k in got if k not in first_life}
    assert any(ws >= base + dt.timedelta(hours=5) for _, ws in second_life)
    late = max(second_life, key=lambda k: k[1])

    def prefix(rows):
        return sum(
            1 for r in rows
            if r[3] == late[0] and r[1] < late[1] + dt.timedelta(hours=1)
        )

    # the release at the last hour is the prefix over BOTH lives plus
    # that hour's fixed noise, not the second life's rows alone
    leaf = (late[1] - dt.datetime(1970, 1, 1)) // dt.timedelta(hours=1)
    noise, _ = interval_noise(
        0, leaf + ev.CONTINUAL_LEAF_OFFSET + 1,
        noise_scale(1.0, ev.CONTINUAL_HORIZON_LEAVES), 11,
        ev._type_index(late[0]),
    )
    assert prefix(rows1 + rows2) > prefix(rows2)
    assert got[late] == math.floor(prefix(rows1 + rows2) + noise + 0.5)


def test_stream_dp_windowed_histogram_matches_batch(spark, tmp_path):
    """Continual histogram release: the streaming twin's released
    (window, value-bucket) noisy counts must equal the batch twin's
    bit-for-bit (shared cell-noise expression), minus only the
    watermark tail."""
    d = str(tmp_path / "events_hist")
    os.makedirs(d)
    os.symlink(
        "/root/testdata/sf0.001/events.parquet", os.path.join(d, "events.parquet")
    )
    raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sdf = ev.stream_dp_windowed_histogram(
        spark, d, raw.schema, lo=0.0, hi=500.0, buckets=10,
        epsilon=1.0, seed=3,
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_dp_whist")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r.window_start, r.bucket): r.noisy_events
        for r in spark.sql("SELECT * FROM t_dp_whist").collect()
    }
    batch = {
        (r.window_start, r.bucket): r.noisy_events
        for r in ev.dp_windowed_histogram(
            load_table(spark, "/root/testdata/sf0.001", "events"),
            "hour", "value", lo=0.0, hi=500.0, buckets=10,
            epsilon=1.0, seed=3,
        ).collect()
    }
    assert streamed and set(streamed) <= set(batch)
    for k, v in streamed.items():
        assert batch[k] == v
    # noise is real: at least one released cell differs from its
    # exact count
    exact = {
        (r.window_start, r.bucket): r.n_events
        for r in ev.windowed_histogram(
            load_table(spark, "/root/testdata/sf0.001", "events"),
            "hour", "value", 0.0, 500.0, 10,
        ).collect()
    }
    assert any(streamed[k] != exact[k] for k in streamed)


def test_stream_dp_windowed_histogram_restart_append_once(spark, tmp_path):
    """Kill-restart across a checkpoint for the continual histogram:
    each (window, bucket) cell is released exactly once across the
    restart boundary, and every released cell stays bit-identical to
    the batch twin (the cell noise is keyed on the cell, so a restart
    can neither re-draw nor re-release)."""
    import datetime as dt
    import glob
    import shutil

    src = str(tmp_path / "src_h")
    ckpt = str(tmp_path / "ckpt_h")
    out = str(tmp_path / "out_h")
    os.makedirs(src)
    base = dt.datetime(2024, 6, 1, 0, 0, 0)
    schema_str = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )

    def mk_rows(start_min, count, id0):
        return [
            (id0 + i, base + dt.timedelta(minutes=start_min + 9 * i), 1,
             "click", float((i * 37) % 500))
            for i in range(count)
        ]

    def add_batch(rows, name):
        tmp = str(tmp_path / f"stage_h_{name}")
        spark.createDataFrame(rows, schema_str).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        shutil.copyfile(part, os.path.join(src, f"{name}.parquet"))

    schema = spark.createDataFrame([], schema_str).schema

    def run_once():
        sdf = ev.stream_dp_windowed_histogram(
            spark, src, schema, lo=0.0, hi=500.0, buckets=10,
            epsilon=1.0, seed=5,
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    rows1 = mk_rows(0, 40, 0)        # ~0h .. 6h
    rows2 = mk_rows(420, 40, 100)    # 7h .. ~13h
    add_batch(rows1, "b1")
    run_once()
    first = spark.read.parquet(out).count()
    assert first > 0

    add_batch(rows2, "b2")
    run_once()  # restart from the same checkpoint

    released = spark.read.parquet(out).collect()
    got = {}
    for r in released:
        k = (r.window_start, r.bucket)
        assert k not in got, f"cell released twice across restart: {k}"
        got[k] = r.noisy_events
    batch = {
        (r.window_start, r.bucket): r.noisy_events
        for r in ev.dp_windowed_histogram(
            spark.createDataFrame(rows1 + rows2, schema_str),
            "hour", "value", lo=0.0, hi=500.0, buckets=10,
            epsilon=1.0, seed=5,
        ).collect()
    }
    assert len(got) > first  # the second life released new cells
    for k, v in got.items():
        assert batch[k] == v


def test_csv_roundtrip_faithful_edges(spark, tmp_path):
    """The faithful CSV combo (null sentinel + quoted empties +
    multiLine) round-trips the cases plain CSV silently corrupts:
    '' vs NULL stay distinct, and a quoted field with embedded
    newlines / commas / quotes comes back byte-identical instead of
    shredding into garbage rows."""
    from hillview_spark.sources import writers

    rows = [
        (1, ""), (2, None), (3, 'x,y\n"q"'), (4, "plain"),
        (5, "a\nb\nc"), (6, ","),
        # exotic quoting/whitespace (r8): a bare quote, quote-heavy
        # '""a""', CRLF inside a field, preserved leading/trailing
        # whitespace (the writer's trim options default ON and would
        # silently corrupt these), tabs, and non-ASCII text
        (7, '"'), (8, '""a""'), (9, "a\r\nb"), (10, "  padded  "),
        (11, "\ttab\t"), (12, "héllo 🌍 مرحبا"),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    p = str(tmp_path / "csv_edges")
    writers.write_csv(df, p, null_value="\\N")
    back = readers.read_csv(
        spark, p, schema="id long, s string", multiline=True,
        null_value="\\N",
    )
    assert sorted((r.id, r.s) for r in back.collect()
                  if r.id is not None) == sorted(rows)
    # the documented residual: a literal sentinel field reads as NULL
    df2 = spark.createDataFrame([(9, "\\N")], "id long, s string")
    p2 = str(tmp_path / "csv_sentinel")
    writers.write_csv(df2, p2, null_value="\\N")
    got = readers.read_csv(
        spark, p2, schema="id long, s string", null_value="\\N"
    ).first()
    assert got.s is None


def test_read_csv_inference_carries_parse_options(spark, tmp_path):
    """r10 review: the schema-inference pre-read dropped nullValue /
    multiLine / the faithful timestamp formats, so a faithful file
    read back on the DEFAULT infer path got string columns where the
    writer had ints (the '\\N' sentinel blocked int inference) and
    values came back as strings — silent dtype corruption."""
    from hillview_spark.sources import writers

    df = spark.createDataFrame(
        [(1, 10, "a\nb"), (2, None, "plain")], "id long, v long, s string"
    )
    p = str(tmp_path / "csv_infer")
    writers.write_csv(df, p, null_value="\\N")
    back = readers.read_csv(
        spark, p, multiline=True, null_value="\\N", keep_corrupt=False
    )
    # inference picks the narrowest integer type; the point is it is
    # an INTEGER again, not the string the dropped sentinel forced
    assert dict(back.dtypes)["v"] in ("int", "bigint")
    got = {r.id: (r.v, r.s) for r in back.collect()}
    assert got == {1: (10, "a\nb"), 2: (None, "plain")}


def test_csv_faithful_ts_decoupled_from_null_value(spark, tmp_path):
    """r11 (r10 advice): the faithful microsecond timestamp formats
    were gated on null_value in BOTH readers and the writer,
    conflating two unrelated options — a caller round-tripping
    microsecond timestamps WITHOUT a NULL sentinel had them truncated
    (write) and misparsed/inferred-as-string (read). faithful_ts=True
    now selects them independently; the default (None) preserves the
    historical coupling."""
    import datetime

    from hillview_spark.sources import writers

    ts = datetime.datetime(2024, 3, 1, 23, 59, 59, 999999)
    df = spark.createDataFrame([(1, ts)], "id long, t timestamp")
    p = str(tmp_path / "csv_faithful_ts")
    writers.write_csv(df, p, faithful_ts=True)  # no null sentinel

    # pinned schema: microseconds survive the round-trip
    back = readers.read_csv(
        spark, p, schema="id long, t timestamp", faithful_ts=True
    ).first()
    assert back.t == ts
    # inferred path: the pre-read carries the same format, so the
    # column comes back TIMESTAMP (not string) with full precision
    inf = readers.read_csv(spark, p, faithful_ts=True, keep_corrupt=False)
    assert dict(inf.dtypes)["t"].startswith("timestamp")
    assert inf.first().t == ts


def test_dissect_lines_missing_is_null(spark):
    """r10 review: unparsed lines' untyped fields and absent optional
    groups extracted as '' while typed fields cast to NULL — the
    empty-token class. Missing is NULL uniformly now."""
    df = spark.createDataFrame(
        [("Jan  2 03:04:05 host1 app[7]: hello",),   # full parse
         ("Jan  2 03:04:05 host2 app: no pid",),     # optional [pid] absent
         ("total garbage",)],                        # parse error
        "value string",
    )
    rows = {r.raw_line: r for r in readers.dissect_lines(
        df, "value", "syslog").collect()}
    ok = rows["Jan  2 03:04:05 host1 app[7]: hello"]
    assert (ok.parse_error, ok.host, ok.pid, ok.message) == (
        False, "host1", 7, "hello")
    nop = rows["Jan  2 03:04:05 host2 app: no pid"]
    assert nop.parse_error is False and nop.pid is None
    bad = rows["total garbage"]
    assert bad.parse_error is True
    # every extracted field NULL, not '' — '' would form a phantom
    # category in any downstream groupBy/histogram
    assert (bad.host, bad.proc, bad.pid, bad.message) == (
        None, None, None, None)


def test_windowed_histogram_range_rules(spark):
    """ADVICE-r8 fix: the PLAIN windowed histogram is CLOSED at max —
    value == hi lands in the LAST bucket (DoubleHistogramBuckets.
    indexOf: only value > max drops), while the DP twin keeps the
    quantization-grid rule where hi itself is out of range
    (DoubleColumnQuantization.outOfRange)."""
    import datetime

    from hillview_spark.streaming import events as ev

    t0 = datetime.datetime(2024, 1, 1, 10, 0)
    df = spark.createDataFrame(
        [
            (1, t0, 0.0),     # lo -> bucket 0
            (2, t0, 99.9),    # interior -> bucket 9
            (3, t0, 100.0),   # == hi: last bucket in plain, OUT in DP
            (4, t0, 100.1),   # > hi: out in both
            (5, t0, -0.1),    # < lo: out in both
        ],
        "event_id long, ts timestamp_ntz, value double",
    )
    plain = {
        r.bucket: r.n_events
        for r in ev.windowed_histogram(df, "hour", "value", 0.0, 100.0, 10)
        .collect()
    }
    assert plain == {0: 1, 9: 2}  # 99.9 and 100.0 share the last bucket
    dp_grid = {
        r.bucket: r.n_events
        for r in ev.windowed_histogram(
            df, "hour", "value", 0.0, 100.0, 10, include_max=False
        ).collect()
    }
    assert dp_grid == {0: 1, 9: 1}  # 100.0 excluded from the grid


def test_type_index_null_and_empty_draw_distinct_noise():
    """r9 review (DP break): the NULL-type and ''-type groups used to
    share one PRF index — bit-identical noise trees, so subtracting
    their released prefixes recovered the difference noise-free. The
    index key now uses privacy._prf_field's escaped rendering (NULL
    -> '\\N', unreachable from any real value because backslashes are
    doubled); plain type names are untouched, so prior releases are
    bit-unchanged."""
    from hillview_spark.streaming.events import _type_index

    assert _type_index(None) != _type_index("")
    # the sentinel is unforgeable: a literal backslash-N type maps to
    # the DOUBLED-backslash key, not the NULL sentinel
    assert _type_index("\\N") != _type_index(None)
    # identity on plain names (release-compatibility)
    import hashlib

    assert _type_index("click") == (
        int.from_bytes(hashlib.md5(b"click").digest()[:4], "big")
        & 0x7FFFFFFF
    )


def test_stream_dp_windowed_sum_matches_batch(spark, tmp_path):
    """r12: the continual bounded-SUM release streams bit-for-bit —
    same cell-keyed 'wsum' noise, same clipped decimal sum, same
    integer floor — and clipping provably bites (the release differs
    from an unclipped twin)."""
    d = str(tmp_path / "events_dir")
    os.makedirs(d)
    os.symlink(
        "/root/testdata/sf0.001/events.parquet",
        os.path.join(d, "events.parquet"),
    )
    raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sdf = ev.stream_dp_windowed_sum(
        spark, d, raw.schema, col="value", lo=0.0, hi=250.0,
        epsilon=1.0, seed=3,
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_dp_winsum")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {
        (r.window_start, r.event_type): r.noisy_sum
        for r in spark.sql("SELECT * FROM t_dp_winsum").collect()
    }
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    batch_rows = {
        (r.window_start, r.event_type): r.noisy_sum
        for r in ev.dp_windowed_sum(
            batch, "hour", "value", lo=0.0, hi=250.0, epsilon=1.0,
            seed=3,
        ).collect()
    }
    assert stream_rows == batch_rows
    # clipping is live on this fixture (values above the ceiling
    # exist, so the clamp genuinely moves the deterministic sums —
    # the oracle-parity gate then pins the CLIPPED value); and the
    # release is deterministic across invocations
    assert batch.where(F.col("value") > 250.0).count() > 0
    again = {
        (r.window_start, r.event_type): r.noisy_sum
        for r in ev.dp_windowed_sum(
            batch, "hour", "value", lo=0.0, hi=250.0, epsilon=1.0,
            seed=3,
        ).collect()
    }
    assert again == batch_rows


def test_stream_dp_windowed_mean_matches_batch(spark, tmp_path):
    """r13: the continual bounded-MEAN release streams bit-for-bit —
    same 'wmsum'/'wmcnt' cell noise, same clipped decimal sum and row
    count, same integer floors, same IEEE ratio — and its draws are
    DISJOINT from dp_windowed_sum's 'wsum' draws at the same seed
    (the batch dp_mean's r13 lesson: a shared draw makes the pair a
    0-DP noise-cancellation oracle)."""
    d = str(tmp_path / "events_dir")
    os.makedirs(d)
    os.symlink(
        "/root/testdata/sf0.001/events.parquet",
        os.path.join(d, "events.parquet"),
    )
    raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sdf = ev.stream_dp_windowed_mean(
        spark, d, raw.schema, col="value", lo=0.0, hi=250.0,
        epsilon=1.0, seed=3,
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_dp_winmean")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {
        (r.window_start, r.event_type):
            (r.noisy_sum, r.noisy_count, r.noisy_mean)
        for r in spark.sql("SELECT * FROM t_dp_winmean").collect()
    }
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    mean_rel = ev.dp_windowed_mean(
        batch, "hour", "value", lo=0.0, hi=250.0, epsilon=1.0, seed=3
    )
    batch_rows = {
        (r.window_start, r.event_type):
            (r.noisy_sum, r.noisy_count, r.noisy_mean)
        for r in mean_rel.collect()
    }
    assert stream_rows == batch_rows
    assert len(batch_rows) > 0
    # the mean is the exact ratio of the integer components (or NULL
    # on a non-positive count)
    for s, c, m in batch_rows.values():
        assert m == (s / c if c > 0 else None)
    # draw separation from the SUM mechanism at the same seed: if
    # 'wmsum' shared 'wsum''s uniform, Laplace linearity would make
    # the mean's pre-floor sum noise exactly 2x the sum release's on
    # every cell; with disjoint tags the two releases must not be in
    # that lockstep on this many cells
    sum_rows = {
        (r.window_start, r.event_type): r.noisy_sum
        for r in ev.dp_windowed_sum(
            batch, "hour", "value", lo=0.0, hi=250.0, epsilon=1.0,
            seed=3,
        ).collect()
    }
    assert sum_rows.keys() == batch_rows.keys()
    assert any(
        batch_rows[k][0] != sum_rows[k] for k in sum_rows
    )
    # and directly: at ONE cell key and ONE scale, the three domain
    # tags produce three different draws (the uniform itself is
    # tag-keyed, not just the scale)
    from hillview_spark.operators.privacy import laplace_noise_col

    probe = spark.range(1).select(
        *[
            laplace_noise_col(
                1.0, 3, F.lit("3600"), F.lit("click"), F.lit(tag),
                scale=1.0,
            ).alias(tag)
            for tag in ("wsum", "wmsum", "wmcnt")
        ]
    ).first()
    assert len({probe.wsum, probe.wmsum, probe.wmcnt}) == 3


def test_stream_dp_windowed_distinct_matches_batch(spark, tmp_path):
    """r13: private DAU streams bit-for-bit — the dropDuplicates
    composition counts exactly what countDistinct counts, and the
    'wdist' cell noise is the same expression on both twins; the
    draw is disjoint from 'wcounts' at the same seed."""
    d = str(tmp_path / "events_dir")
    os.makedirs(d)
    os.symlink(
        "/root/testdata/sf0.001/events.parquet",
        os.path.join(d, "events.parquet"),
    )
    raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sdf = ev.stream_dp_windowed_distinct(
        spark, d, raw.schema, col="user_id", epsilon=1.0, seed=3
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_dp_windist")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {
        (r.window_start, r.event_type): r.noisy_distinct
        for r in spark.sql("SELECT * FROM t_dp_windist").collect()
    }
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    batch_rows = {
        (r.window_start, r.event_type): r.noisy_distinct
        for r in ev.dp_windowed_distinct(
            batch, "hour", "user_id", epsilon=1.0, seed=3
        ).collect()
    }
    assert stream_rows == batch_rows and len(batch_rows) > 0
    # tag separation: 'wdist' and 'wcounts' draws differ at one key
    from hillview_spark.operators.privacy import laplace_noise_col

    probe = spark.range(1).select(
        *[
            laplace_noise_col(
                1.0, 3, F.lit("3600"), F.lit("click"), F.lit(tag),
                scale=1.0,
            ).alias(tag)
            for tag in ("wdist", "wcounts")
        ]
    ).first()
    assert probe.wdist != probe.wcounts


def test_dp_windowed_trending_threshold_and_guards(spark):
    """r14: the continual unknown-domain release — per-(window,
    value) noisy counts released only above tau, with the whole
    decision (membership AND values) re-derived in Python from the
    md5 'wtrend' recipe; a count-1 value stays hidden at this tau,
    NULL values are not a domain element, NULL-ts rows drop, the
    'wtrend' draw is disjoint from 'wcounts'/'wdist' at one key,
    and bad epsilon/delta raise."""
    import datetime as dt
    import hashlib
    import math

    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    rows = (
        [(i, base + dt.timedelta(minutes=i), 1, "hot", 1.0)
         for i in range(20)]
        + [(100, base, 2, "lone", 1.0)]
        + [(101, base, 3, None, 1.0)]          # NULL value: excluded
        + [(102, None, 4, "hot", 1.0)]         # NULL ts: dropped
    )
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    )
    eps, delta, seed = 1.0, 0.05, 11
    tau = 1.0 + 2.0 * math.log(2.0 / delta) / eps + 0.5

    def release(value, cnt, secs):
        u = int(
            hashlib.md5(
                f"{secs}|{value}|wtrend|{seed}".encode()
            ).hexdigest()[:13], 16,
        ) * 2.0**-52
        u = min(max(u, 2.0**-53), 1.0 - 2.0**-53)
        r = 0.5 - u
        noise = (
            -math.log(1.0 - 2.0 * (-r)) if r < 0
            else math.log(1.0 - 2.0 * r)
        ) / eps
        rel = math.floor(cnt + noise + 0.5)
        return rel if rel > tau else None

    day_secs = int(dt.datetime(
        2024, 6, 1, tzinfo=dt.timezone.utc).timestamp())
    want = {}
    for value, cnt in (("hot", 20), ("lone", 1)):
        rel = release(value, cnt, day_secs)
        if rel is not None:
            want[value] = rel
    got = {
        r.value: r.noisy_count
        for r in ev.dp_windowed_trending(
            df, unit="day", col="event_type", epsilon=eps,
            delta=delta, seed=seed,
        ).collect()
    }
    assert got == want
    assert "hot" in got          # 20 >> tau+1: non-trivial release
    assert "lone" not in got     # count-1 never clears tau ~8.88 here
    assert None not in got
    import pytest as _pytest

    for bad in (0.0, -1.0):
        with _pytest.raises(ValueError, match="epsilon"):
            ev.dp_windowed_trending(df, epsilon=bad, delta=0.05)
        with _pytest.raises(ValueError, match="epsilon"):
            ev.stream_dp_windowed_trending(
                spark, "/tmp/none", None, epsilon=bad, delta=0.05
            )
    for bad_d in (0.0, 1.0, -0.5):
        with _pytest.raises(ValueError, match="delta"):
            ev.dp_windowed_trending(df, epsilon=1.0, delta=bad_d)
    # tag separation at one (window, value) key
    from hillview_spark.operators.privacy import laplace_noise_col

    probe = spark.range(1).select(
        *[
            laplace_noise_col(
                1.0, seed, F.lit("3600"), F.lit("click"), F.lit(tag),
                scale=1.0,
            ).alias(tag)
            for tag in ("wtrend", "wcounts", "wdist")
        ]
    ).first()
    assert len({probe.wtrend, probe.wcounts, probe.wdist}) == 3


def test_bound_contributions_caps_and_user_level_release(spark):
    """r15 (VERDICT-r14 directive #3): the contribution bound — the
    per-(user, window) cap binds and picks the Python-recomputed
    (md5 hash, id)-minimal events; NULL users pool as ONE capped
    group; NULL-ts rows drop; max_windows keeps exactly the
    hash-ranked window set; k=0 / max_windows=0 raise; a NULL
    key_col fails loudly; and the composed user-level release draws
    under 'uwcnt' — never sharing a cell draw with the uncapped
    'wcounts' release at one seed."""
    import datetime as dt
    import hashlib

    import pytest as _pytest

    h0 = dt.datetime(2024, 6, 1, 12, 0, 0)
    hours = [h0 + dt.timedelta(hours=i) for i in range(3)]
    rows = (
        # user 1: 3 events in hour 0 (cap k=1/k=2 bites), 1 in hour 1
        [(e, hours[0] + dt.timedelta(minutes=m), 1, "click", 1.0)
         for e, m in ((1, 0), (2, 10), (3, 20))]
        + [(4, hours[1], 1, "view", 1.0)]
        # user 1 also touches hour 2 (max_windows=2 of 3 bites)
        + [(5, hours[2], 1, "view", 1.0)]
        # NULL users: 2 events in hour 0 -> pool to ONE group, k=1
        # keeps exactly one of them
        + [(6, hours[0], None, "click", 1.0),
           (7, hours[0] + dt.timedelta(minutes=5), None, "view", 1.0)]
        # NULL ts: dropped before any bound
        + [(8, None, 1, "view", 1.0)]
    )
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    )

    def ehash(eid):
        return int(
            hashlib.md5(f"{eid}_bound1".encode()).hexdigest()[:7], 16
        )

    def whash(t):
        secs = int(t.replace(tzinfo=dt.timezone.utc).timestamp())
        return int(
            hashlib.md5(f"{secs}_bound1w".encode()).hexdigest()[:7], 16
        )

    # k=1: per (user, hour) the (hash, id)-minimal event survives
    got1 = {
        r.event_id
        for r in ev.bound_contributions(df, k=1, per="hour").collect()
    }
    keep_u1h0 = min((ehash(e), e) for e in (1, 2, 3))[1]
    keep_nullh0 = min((ehash(e), e) for e in (6, 7))[1]
    assert got1 == {keep_u1h0, 4, 5, keep_nullh0}
    # k=2 keeps the two smallest of user 1's hour-0 triple
    got2 = {
        r.event_id
        for r in ev.bound_contributions(df, k=2, per="hour").collect()
    }
    keep2 = {e for _, e in sorted((ehash(e), e) for e in (1, 2, 3))[:2]}
    assert got2 == keep2 | {4, 5, 6, 7}
    # max_windows=2: user 1's kept windows are the 2 hash-smallest
    # of the 3 they touch
    keep_w = {
        t for _, t in sorted((whash(t), t) for t in hours)[:2]
    }
    got_w = ev.bound_contributions(
        df, k=1, per="hour", max_windows=2
    ).collect()
    u1_wins = {
        r.ts.replace(minute=0, second=0) for r in got_w
        if r.user_id == 1
    }
    assert u1_wins == keep_w
    for bad_kwargs in ({"k": 0}, {"k": 1, "max_windows": 0}):
        with _pytest.raises(ValueError):
            ev.bound_contributions(df, per="hour", **bad_kwargs)
    with _pytest.raises(Exception, match="NULL key"):
        ev.bound_contributions(
            df.withColumn("event_id", F.lit(None).cast("long")),
            k=1, per="hour",
        ).collect()
    # composed release: with a non-binding cap the underlying counts
    # equal the event-level release's, but the draws live under
    # 'uwcnt' — the releases must differ on some cell at one seed
    # (a shared tag would let capped-minus-uncapped cancel the noise)
    big = ev.dp_windowed_counts_user_level(
        df, unit="hour", epsilon=1.0, seed=3, k=10
    ).collect()
    base = ev.dp_windowed_counts(df, unit="hour", epsilon=1.0, seed=3)
    base_rows = {(r.window_start, r.event_type) for r in base.collect()}
    assert {(r.window_start, r.event_type) for r in big} == base_rows
    diff = {
        (r.window_start, r.event_type, r.noisy_events) for r in big
    } ^ {
        (r.window_start, r.event_type, r.noisy_events)
        for r in base.collect()
    }
    assert diff  # same counts, disjoint PRF domains -> some cell moves


def test_dp_windowed_trending_user_level_composition(spark):
    """r15 late block: the user-level trending release — with a
    non-binding cap the underlying cells equal the event-level
    release's, but the draws live under 'uwtrend' (never shared
    with 'wtrend' at one seed: a shared tag would let
    capped-minus-uncapped cancel the noise and the threshold
    membership difference leak exactly); a binding k=1 cap shrinks
    a hyperactive user's cell below tau (the attack the cap
    exists for); bad epsilon/delta raise."""
    import datetime as dt
    import math

    import pytest as _pytest

    day = dt.datetime(2024, 6, 1)
    # user 1 alone fires 20 'solo' events in one day — an uncapped
    # release trends it; the k=1 cap reduces it to ONE event, far
    # below tau. 12 distinct users fire 'pop' once each: the cap
    # does not touch it and it trends in both releases.
    rows = (
        [(i, day + dt.timedelta(minutes=i), 1, "solo", 1.0)
         for i in range(20)]
        + [(100 + i, day + dt.timedelta(minutes=i), 10 + i, "pop", 1.0)
           for i in range(12)]
    )
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    )
    eps, delta, seed = 2.0, 0.05, 7
    tau = 1.0 + 2.0 * math.log(2.0 / delta) / eps + 0.5
    capped = {
        r.value: r.noisy_count
        for r in ev.dp_windowed_trending_user_level(
            df, unit="day", col="event_type", epsilon=eps,
            delta=delta, seed=seed, k=1,
        ).collect()
    }
    uncapped = {
        r.value: r.noisy_count
        for r in ev.dp_windowed_trending(
            df, unit="day", col="event_type", epsilon=eps,
            delta=delta, seed=seed,
        ).collect()
    }
    assert "solo" in uncapped and uncapped["solo"] > tau
    assert "solo" not in capped          # one user cannot mint a trend
    assert "pop" in capped and "pop" in uncapped
    # tag separation: integer releases can tie after flooring, so the
    # decisive check is the raw noise columns at one (window, value)
    from hillview_spark.operators.privacy import laplace_noise_col

    probe = spark.range(1).select(
        *[
            laplace_noise_col(
                eps, seed, F.lit("1717200000"), F.lit("pop"),
                F.lit(tag), scale=1.0 / eps,
            ).alias(tag.replace("w", "w_"))
            for tag in ("wtrend", "uwtrend")
        ]
    ).first()
    assert probe.w_trend != probe.uw_trend
    for bad in (0.0, -1.0):
        with _pytest.raises(ValueError, match="epsilon"):
            ev.dp_windowed_trending_user_level(df, epsilon=bad, delta=0.05)
    for bad_d in (0.0, 1.0):
        with _pytest.raises(ValueError, match="delta"):
            ev.dp_windowed_trending_user_level(df, epsilon=1.0, delta=bad_d)


def test_stream_dp_windowed_mean_and_distinct_restart_append_once(
    spark, tmp_path
):
    """r13: kill-restart across a checkpoint for the two new
    continual releases — each (window, type) cell is released
    exactly ONCE across the restart boundary (re-releasing would
    re-spend budget), and every released cell stays bit-identical to
    its batch twin (cell-keyed noise: a restart can neither re-draw
    nor re-release)."""
    import datetime as dt
    import glob
    import shutil

    src = str(tmp_path / "src_md")
    os.makedirs(src)
    base = dt.datetime(2024, 6, 1, 0, 0, 0)
    schema_str = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )

    def mk_rows(start_min, count, id0):
        return [
            (id0 + i, base + dt.timedelta(minutes=start_min + 9 * i),
             (i % 7) + 1, "click", float((i * 37) % 400))
            for i in range(count)
        ]

    def add_batch(rows, name):
        tmp = str(tmp_path / f"stage_md_{name}")
        spark.createDataFrame(rows, schema_str).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        shutil.copyfile(part, os.path.join(src, f"{name}.parquet"))

    schema = spark.createDataFrame([], schema_str).schema
    cases = {
        "mean": (
            lambda: ev.stream_dp_windowed_mean(
                spark, src, schema, col="value", lo=0.0, hi=250.0,
                epsilon=1.0, seed=5,
            ),
            lambda df: ev.dp_windowed_mean(
                df, "hour", "value", lo=0.0, hi=250.0, epsilon=1.0,
                seed=5,
            ),
            lambda r: (r.noisy_sum, r.noisy_count, r.noisy_mean),
        ),
        "dist": (
            lambda: ev.stream_dp_windowed_distinct(
                spark, src, schema, col="user_id", epsilon=1.0, seed=5
            ),
            lambda df: ev.dp_windowed_distinct(
                df, "hour", "user_id", epsilon=1.0, seed=5
            ),
            lambda r: r.noisy_distinct,
        ),
        # r14: the thresholded unknown-domain release — the restart
        # must not re-decide a cell's PRESENCE either (a threshold
        # flicker across lives would leak through set-difference);
        # delta=0.35 puts tau ~4.98 under the ~6-7 per-(hour, click)
        # counts so cells genuinely release
        "trend": (
            lambda: ev.stream_dp_windowed_trending(
                spark, src, schema, window_duration="1 hour",
                watermark="2 hours", col="event_type", epsilon=1.0,
                delta=0.35, seed=5,
            ),
            lambda df: ev.dp_windowed_trending(
                df, "hour", "event_type", epsilon=1.0, delta=0.35,
                seed=5,
            ),
            lambda r: r.noisy_count,
        ),
    }

    def cell_key(r):
        # trending releases the value column under its domain name
        return (r.window_start,
                r.value if "value" in r.__fields__ else r.event_type)

    rows1 = mk_rows(0, 40, 0)
    rows2 = mk_rows(420, 40, 100)

    def run_once(name, mk_stream):
        q = (
            mk_stream()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / f"out_{name}"))
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    add_batch(rows1, "b1")
    firsts = {}
    for name, (mk_stream, _, _) in cases.items():
        run_once(name, mk_stream)
        firsts[name] = spark.read.parquet(
            str(tmp_path / f"out_{name}")
        ).count()
        assert firsts[name] > 0

    add_batch(rows2, "b2")
    for name, (mk_stream, mk_batch, val) in cases.items():
        run_once(name, mk_stream)  # restart from the same checkpoint
        got = {}
        for r in spark.read.parquet(str(tmp_path / f"out_{name}")).collect():
            k = cell_key(r)
            assert k not in got, f"{name}: cell released twice: {k}"
            got[k] = val(r)
        batch = {
            cell_key(r): val(r)
            for r in mk_batch(
                spark.createDataFrame(rows1 + rows2, schema_str)
            ).collect()
        }
        assert len(got) > firsts[name]  # second life released new cells
        for k, v in got.items():
            assert batch[k] == v, (name, k)
