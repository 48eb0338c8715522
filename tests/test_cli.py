"""CLI entry-point tests — the reference user's runnable programs
(cleandata / graphdata / ingest / querygen), driven in-process."""

from __future__ import annotations

import glob
import json
import os

import pytest

from pyspark.sql import functions as F

from .fixtures import as_json_lines

PA_CSV = """UTCDateTime,current_temp_f,current_humidity,pressure,pm1_0_atm,pm2_5_atm,pm10_0_atm,extra
2024-01-15T10:00:00Z,68.0,40,1013.2511,1.2345,2.5,3.0,junk
2024-01-15T10:05:00Z,70.5,41,1013.1,1.3,2.6,3.1,junk
bad-timestamp,60.0,39,1012.0,1.0,2.0,3.0,junk
"""

AW_CSV = """node,pst_time,temperature,humidity,pressure,pm1_0,pm2_5,pm10
1,2024-01-15 02:00:00 Pacific Standard Time,20.0,45,1012.0,1.0,2.0,3.0
1,2024-01-15 02:05:00 Pacific Standard Time,21.0,46,1012.1,1.1,2.1,3.1
2,2024-01-15 02:00:00 Pacific Standard Time,19.0,44,1011.9,0.9,1.9,2.9
"""


def _read_csv_dir(spark, path):
    return spark.read.option("header", "true").csv(path)


def test_cleandata_cli(spark, tmp_path):
    from meshtastic_airsensor_database_spark.cli.cleandata import main

    src = tmp_path / "pa.csv"
    src.write_text(PA_CSV)
    out = str(tmp_path / "clean_out")
    assert main(["-o", out, str(src)], spark=spark) == 0

    rows = _read_csv_dir(spark, out).collect()
    assert len(rows) == 2  # bad-timestamp row dropped
    assert rows[0]["PacificTime"] == "2024-01-15 02:00:00"  # UTC-8 render
    assert rows[0]["pressure"] == "1013.251"  # round(3)
    cols = _read_csv_dir(spark, out).columns
    assert cols == ["PacificTime", "current_temp_f", "current_humidity",
                    "pressure", "pm1_0_atm", "pm2_5_atm", "pm10_0_atm"]


def test_graphdata_cli(spark, tmp_path):
    from meshtastic_airsensor_database_spark.cli.graphdata import METRICS, main

    # graphdata consumes cleandata's output shape (PacificTime rendered)
    pa = tmp_path / "pa_clean.csv"
    pa.write_text(
        "PacificTime,current_temp_f,current_humidity,pressure,pm1_0_atm,pm2_5_atm,pm10_0_atm\n"
        "2024-01-15 02:00:00,68.0,40,1013.2,1.2,2.5,3.0\n"
        "2024-01-15 02:06:00,70.5,41,1013.1,1.3,2.6,3.1\n"
    )
    aw = tmp_path / "aw.csv"
    aw.write_text(AW_CSV)
    out = str(tmp_path / "graph_out")
    assert main([str(pa), str(aw), "-o", out], spark=spark) == 0

    assert sorted(os.listdir(out)) == sorted(METRICS)
    temp = _read_csv_dir(spark, os.path.join(out, "temperature")).collect()
    by = {(r["source"], r["bucket_ts"]): r for r in temp}
    sources = {r["source"] for r in temp}
    assert sources == {"purpleair", "airwise_1", "airwise_2"}
    # F->C on the purpleair side: 68F -> 20C in the 02:00 bucket
    t0 = by[("purpleair", "2024-01-15T02:00:00.000Z")]
    assert abs(float(t0["avg_value"]) - 20.0) < 1e-6


def test_graphdata_svg_rendering(spark, tmp_path):
    """--svg renders one well-formed SVG per metric; PM charts pin the
    reference's 0-15 y-axis (graphdata.py PM subplots), others autoscale."""
    import xml.etree.ElementTree as ET

    from meshtastic_airsensor_database_spark.cli.graphdata import METRICS, main

    pa = tmp_path / "pa_clean.csv"
    pa.write_text(
        "PacificTime,current_temp_f,current_humidity,pressure,pm1_0_atm,pm2_5_atm,pm10_0_atm\n"
        "2024-01-15 02:00:00,68.0,40,1013.2,1.2,2.5,3.0\n"
        "2024-01-15 02:06:00,70.5,41,1013.1,1.3,2.6,3.1\n"
    )
    aw = tmp_path / "aw.csv"
    aw.write_text(AW_CSV)
    out = str(tmp_path / "graph_out")
    assert main([str(pa), str(aw), "-o", out, "--svg"], spark=spark) == 0

    ns = {"svg": "http://www.w3.org/2000/svg"}
    for metric in METRICS:
        root = ET.parse(os.path.join(out, f"{metric}.svg")).getroot()
        lines = root.findall(".//svg:polyline", ns)
        # one clipped polyline per source (purpleair + 2 airwise nodes)
        assert len(lines) == 3
        assert all(p.get("clip-path") == "url(#plot)" for p in lines)
        labels = {t.text for t in root.findall(".//svg:text", ns)}
        assert {"purpleair", "airwise_1", "airwise_2"} <= labels
        if metric.startswith("pm"):
            assert {"0", "15"} <= labels  # pinned reference ylim ticks
        else:
            assert "15" not in labels or metric == "temperature"


def test_chartsvg_deterministic_and_clipped():
    from meshtastic_airsensor_database_spark.cli.chartsvg import (
        render_line_chart_svg,
    )

    series = {"a": [(0.0, 1.0), (60.0, 20.0)], "b": [(0.0, 5.0)]}
    one = render_line_chart_svg(series, title="t", y_limits=(0.0, 15.0))
    two = render_line_chart_svg(series, title="t", y_limits=(0.0, 15.0))
    assert one == two  # byte-deterministic
    # the y=20 point is kept but clipped by the plot clipPath
    assert 'clip-path="url(#plot)"' in one
    # empty-series chart still renders a valid document
    import xml.etree.ElementTree as ET

    ET.fromstring(render_line_chart_svg({}, title="empty"))


def test_graphdata_node_autoenumeration_is_capped(spark, tmp_path, monkeypatch):
    """Above MAX_AUTO_NODES distinct nodes, graphdata refuses the
    unbounded auto-enumeration and demands an explicit --nodes list
    (never an unbounded .collect() on the driver)."""
    import pytest

    from meshtastic_airsensor_database_spark.cli import graphdata

    pa = tmp_path / "pa_clean.csv"
    pa.write_text(
        "PacificTime,current_temp_f,current_humidity,pressure,pm1_0_atm,pm2_5_atm,pm10_0_atm\n"
        "2024-01-15 02:00:00,68.0,40,1013.2,1.2,2.5,3.0\n"
    )
    aw = tmp_path / "aw.csv"
    aw.write_text(AW_CSV)  # two distinct nodes
    out = str(tmp_path / "graph_out_capped")
    monkeypatch.setattr(graphdata, "MAX_AUTO_NODES", 1)
    with pytest.raises(SystemExit):
        graphdata.main([str(pa), str(aw), "-o", out], spark=spark)
    # explicit --nodes stays allowed beyond the cap
    assert graphdata.main(
        [str(pa), str(aw), "-o", out, "--nodes", "1,2"], spark=spark
    ) == 0


def test_ingest_cli_once(spark, tmp_path):
    from meshtastic_airsensor_database_spark.cli.ingest import main
    from meshtastic_airsensor_database_spark.sources.landing import write_packet_fixture

    landing = str(tmp_path / "cli_landing")
    out = str(tmp_path / "cli_out")
    write_packet_fixture(landing, as_json_lines(), "b0.jsonl")
    assert main(["--landing-dir", landing, "--out-dir", out, "--once"], spark=spark) == 0
    assert spark.read.parquet(os.path.join(out, "airwise_data")).count() >= 1
    assert spark.read.parquet(os.path.join(out, "battery_data")).count() >= 1


def test_ingest_cli_rejects_archive_without_dir(capsys):
    """--clean-source archive without --source-archive-dir must die at
    argument parsing with a usage message, not later inside
    packet_stream_source after a Spark session spun up (r9 ADVICE)."""
    from meshtastic_airsensor_database_spark.cli.ingest import main

    with pytest.raises(SystemExit) as exc:
        main(
            [
                "--landing-dir", "/tmp/x", "--out-dir", "/tmp/y",
                "--clean-source", "archive",
            ],
            spark=object(),  # must never be touched before the error
        )
    assert exc.value.code == 2  # argparse usage error, not a traceback
    assert "--source-archive-dir" in capsys.readouterr().err


def test_querygen_cli(spark, tmp_path):
    from meshtastic_airsensor_database_spark.cli.querygen import main

    src = tmp_path / "lines.txt"
    src.write_text("alpha \nbeta\n gamma\n")
    out = str(tmp_path / "qg_out")
    assert main([str(src), "-o", out], spark=spark) == 0

    docs = []
    for f in glob.glob(os.path.join(out, "part-*")):
        with open(f, encoding="utf-8") as fh:
            docs += [json.loads(line) for line in fh if line.strip()]
    docs.sort(key=lambda d: d["Line Number"])
    assert [d["Line"] for d in docs] == ["alpha", "beta", "gamma"]  # stripped
    assert [d["Line Number"] for d in docs] == [0, 1, 2]
    assert docs[0]["Name"] == "test_file_hello_world"


def test_bridge_cli_env_config(monkeypatch):
    """Flags fall back to the reference env-file keys
    (connectionSpecs.env parity); run_bridge is injected so no broker
    or paho is needed."""
    from meshtastic_airsensor_database_spark.cli import bridge as bridge_cli

    seen = {}

    def fake_bridge(**kwargs):
        seen.update(kwargs)

    monkeypatch.setenv("landing_dir", "/data/landing")
    monkeypatch.setenv("mqtt_broker_address", "broker.example")
    monkeypatch.setenv("mqtt_port", "8883")
    monkeypatch.setenv("mqtt_topics", "a/#, b/#")
    assert bridge_cli.main([], bridge=fake_bridge) == 0
    assert seen["landing_dir"] == "/data/landing"
    assert seen["broker"] == "broker.example"
    assert seen["port"] == 8883
    assert seen["topics"] == ["a/#", "b/#"]
    # explicit flags beat env
    assert bridge_cli.main(["--broker", "other", "--topic", "x/#"],
                           bridge=fake_bridge) == 0
    assert seen["broker"] == "other"
    assert seen["topics"] == ["x/#"]


def test_bridge_alert_fallback_logs(capsys):
    from meshtastic_airsensor_database_spark.cli.bridge import make_ntfy_alert

    make_ntfy_alert(None)("t", "b")
    assert "[alert] t: b" in capsys.readouterr().err


def test_monitor_cli_once(spark, tmp_path, monkeypatch, capsys):
    """monitor --once over a landing dir with one heartbeat: stream
    starts, checkpoint is written, no alert posted (node still live)."""
    import json as _json

    from meshtastic_airsensor_database_spark.cli.monitor import main
    from meshtastic_airsensor_database_spark.sources.landing import write_packet_fixture

    landing = str(tmp_path / "mon_landing")
    ckpt = str(tmp_path / "mon_ckpt")
    pkt = _json.dumps({
        "from": 1, "id": 1, "type": "nodeinfo", "timestamp": 1000,
        "payload": {"id": "!1", "longname": "Farm1"},
    })
    write_packet_fixture(landing, [pkt], "b0.jsonl")
    monkeypatch.setenv("offline_threshold_minutes", "100")
    assert main(["--landing-dir", landing, "--checkpoint-dir", ckpt, "--once"],
                spark=spark) == 0
    assert os.path.isdir(ckpt)


def test_curate_cli_matches_funnel_query(spark, sf_dir, tmp_path):
    """The curate CLI's per-stage report must equal the oracle-checked
    curation_funnel query's counts (same funnel_stages lineage), the
    final parquet must hold exactly the surviving doc_ids, and the
    counts must be monotone non-increasing."""
    import json
    import os

    from meshtastic_airsensor_database_spark.cli.curate import main as curate_main
    from meshtastic_airsensor_database_spark.plans import REGISTRY

    out = str(tmp_path / "curated")
    rc = curate_main(
        [os.path.join(sf_dir, "documents.parquet"), "-o", out], spark=spark
    )
    assert rc == 0
    report = json.load(open(os.path.join(out, "report.json")))["stages"]
    got = {s["stage"]: s["n_docs"] for s in report}
    want = {
        r["stage"]: r["n_docs"]
        for r in REGISTRY["curation_funnel"].builder(spark, sf_dir).collect()
    }
    assert got == want
    counts = [s["n_docs"] for s in sorted(report, key=lambda s: s["stage_idx"])]
    assert counts == sorted(counts, reverse=True)
    final = spark.read.parquet(os.path.join(out, "decontaminated"))
    assert final.count() == got["decontaminated"]
    assert final.filter(F.col("text").isNull()).count() == 0


def test_curate_cli_snapshot_mode_versions_the_corpus(spark, sf_dir, tmp_path):
    """--snapshot publishes the final corpus as an immutable version:
    two runs produce v1 and v2, both readable, with identical content
    for identical inputs (the funnel is deterministic)."""
    import json
    import os

    from meshtastic_airsensor_database_spark.cli.curate import main as curate_main
    from meshtastic_airsensor_database_spark.sources.versioned import (
        read_snapshot,
        snapshot_versions,
    )

    out = str(tmp_path / "curated")
    docs = os.path.join(sf_dir, "documents.parquet")
    assert curate_main([docs, "-o", out, "--snapshot"], spark=spark) == 0
    assert curate_main([docs, "-o", out, "--snapshot"], spark=spark) == 0
    snap_path = os.path.join(out, "decontaminated")
    assert snapshot_versions(snap_path) == [1, 2]
    report = json.load(open(os.path.join(out, "report.json")))
    assert report["snapshot_version"] == 2
    v1 = {r["doc_id"] for r in read_snapshot(spark, snap_path, 1).collect()}
    v2 = {r["doc_id"] for r in read_snapshot(spark, snap_path, 2).collect()}
    assert v1 == v2 and len(v1) == report["stages"][-1]["n_docs"]


def test_run_query_metrics_mode(spark, sf_dir, monkeypatch, capsys):
    """--metrics must execute and print per-operator runtime rows
    (the EXPLAIN ANALYZE twin), descending through AQE stage nodes."""
    import sys as _sys

    sys_path = os.path.join(os.path.dirname(__file__), "..", "tools")
    _sys.path.insert(0, os.path.abspath(sys_path))
    try:
        import run_query as rq
    finally:
        _sys.path.pop(0)
    monkeypatch.setattr(
        _sys, "argv", ["run_query", "pricing_summary", sf_dir, "--metrics"]
    )
    assert rq.main() == 0
    out = capsys.readouterr().out
    assert "Scan parquet" in out
    assert "numOutputRows=" in out
    assert "AdaptiveSparkPlan" not in out  # descended through AQE roots


def _run_query_tool():
    import sys as _sys

    sys_path = os.path.join(os.path.dirname(__file__), "..", "tools")
    _sys.path.insert(0, os.path.abspath(sys_path))
    try:
        import run_query as rq
    finally:
        _sys.path.pop(0)
    return rq


def test_run_query_trace_mode(spark, sf_dir, monkeypatch, capsys):
    """--trace over several names prints ONE JSON line holding each
    query's trace record."""
    import sys as _sys

    from meshtastic_airsensor_database_spark.trace import LAYER_KEYS

    rq = _run_query_tool()
    monkeypatch.setattr(_sys, "argv", [
        "run_query", "--trace", "pricing_summary", "fact_dim_join", sf_dir,
        "--reps", "1",
    ])
    assert rq.main() == 0
    (line,) = capsys.readouterr().out.strip().splitlines()
    got = json.loads(line)
    assert got["sf_dir"] == sf_dir and got["cpus"] >= 1
    assert set(got["queries"]) == {"pricing_summary", "fact_dim_join"}
    for rec in got["queries"].values():
        assert tuple(rec) == LAYER_KEYS


def test_run_query_explain_is_normalized(spark, sf_dir, monkeypatch, capsys):
    """--explain prints through dump_plans.normalize_plan, so plan
    files written before and after a change diff cleanly: the output is
    a fixed point of the normalizer, offset map masked."""
    import sys as _sys

    from tools.dump_plans import normalize_plan

    rq = _run_query_tool()
    monkeypatch.setattr(
        _sys, "argv", ["run_query", "line_numbering", sf_dir, "--explain"]
    )
    assert rq.main() == 0
    out = capsys.readouterr().out
    assert "== Physical Plan ==" in out and "values: [<offsets>]" in out
    assert normalize_plan(out) == out


def test_maintain_cli_compact_index(spark, tmp_path, capsys):
    """compact-index over an append-grown decon index: JSON report per
    subtable, files collapse, probe results preserved (the library test
    pins equivalence; here the CLI wiring + report shape)."""
    import json

    from meshtastic_airsensor_database_spark.cli.maintain import main as mmain
    from meshtastic_airsensor_database_spark.operators.decon_index import (
        build_decon_index,
        extend_decon_index,
    )

    idx = str(tmp_path / "decon_idx")

    def emb(rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    build_decon_index(emb([(1, [1.0, 0.0, 0.0, 0.0])]), idx)
    for i in range(2, 5):
        extend_decon_index(emb([(i, [0.0, float(i), 0.0, 0.0])]), idx)
    assert mmain(["compact-index", idx], spark=spark) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["cmd"] == "compact-index"
    assert rep["pending_append"] is False
    assert set(rep["subtables"]) == {"bands", "vecs"}
    for sub in rep["subtables"].values():
        assert sub["compacted"] and sub["files_after"] == 1

    # a crashed extend's marker surfaces in the report
    open(os.path.join(idx, "_APPEND_PENDING"), "w").close()
    assert mmain(["compact-index", idx], spark=spark) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["pending_append"] is True


def test_maintain_cli_compact_rollup(spark, tmp_path, capsys):
    """compact-rollup: one JSON line with the lake-health counts, the
    merged view unchanged, each run's newest epoch delta left alone."""
    import json

    from meshtastic_airsensor_database_spark.cli.maintain import main as mmain
    from meshtastic_airsensor_database_spark.streaming.rollup import (
        maintain_rollup,
        read_rollup,
    )

    rows = [(f"2024-06-0{d} 0{h}:00:00", d % 2, float(d * h)) for d in (1, 2) for h in range(4)]
    ev = spark.createDataFrame(rows, "s string, node long, value double").select(
        F.to_timestamp("s").alias("ts"), "node", "value"
    )
    path = str(tmp_path / "hourly")
    for epoch in range(4):
        maintain_rollup(ev.filter(F.hour("ts") == epoch), path, keys=["node"],
                        epoch_tag=f"run:{epoch}")
    want = sorted(tuple(r) for r in read_rollup(spark, path, ["node"]).collect())
    assert mmain(["compact-rollup", path], spark=spark) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep == {
        "cmd": "compact-rollup", "dates_scanned": 2, "dates_compacted": 2,
        "max_deltas_before": 4, "max_deltas_after": 2, "deltas_kept_for_replay": 2,
    }
    assert sorted(tuple(r) for r in read_rollup(spark, path, ["node"]).collect()) == want


def test_maintain_cli_erase_key_and_validation(spark, tmp_path, capsys):
    import json

    from meshtastic_airsensor_database_spark.cli.maintain import main as mmain
    from tests.test_maintenance import _erasure_fixture

    fact_path, rollup_path = _erasure_fixture(spark, tmp_path)
    # --rollup-path without --rollup-keys is a usage error BEFORE any work
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        mmain(
            ["erase-key", fact_path, "--partition-by", "event_date",
             "--key-col", "user_id", "--key-value", "7",
             "--rollup-path", rollup_path],
            spark=spark,
        )
    capsys.readouterr()
    rc = mmain(
        ["erase-key", fact_path, "--partition-by", "event_date",
         "--key-col", "user_id", "--key-value", "7",
         "--rollup-path", rollup_path, "--rollup-keys", "user_id"],
        spark=spark,
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows_deleted"] == 4 and rep["rollup_mode"] == "row-drop"
    assert spark.read.parquet(fact_path).filter(F.col("user_id") == 7).count() == 0


def test_maintain_cli_recover_erasure(spark, tmp_path, capsys):
    """The standalone recovery entry point: completes a pending intent
    (reporting its phases) and is a no-op when nothing is pending."""
    import json

    import meshtastic_airsensor_database_spark.sources.maintenance as m
    from meshtastic_airsensor_database_spark.cli.maintain import main as mmain
    from tests.test_maintenance import _erasure_fixture

    fact_path, rollup_path = _erasure_fixture(spark, tmp_path)
    # nothing pending -> report says so, touches nothing
    assert mmain(["recover-erasure", fact_path], spark=spark) == 0
    rep0 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep0 == {"cmd": "recover-erasure", "pending_intent": False}

    # plant a pending intent (the crash-before-rewrite state), recover
    m._write_erase_marker(
        fact_path,
        {
            "partition_by": "event_date",
            "key_col": "user_id",
            "key_value": 7,
            "touched_dates": ["2024-01-01", "2024-01-02", "2024-01-03"],
            "rollup_path": rollup_path,
            "rollup_keys": ["user_id"],
            "ts_col": "ts",
            "value_col": "value",
            "distinct_col": None,
        },
    )
    assert mmain(["recover-erasure", fact_path], spark=spark) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["pending_intent"] and rep["rows_deleted"] == 4
    assert rep["rollup_mode"] == "row-drop"
    assert spark.read.parquet(fact_path).filter(F.col("user_id") == 7).count() == 0
    assert not os.path.exists(m._erase_marker_path(fact_path))


def test_maintain_cli_expire_snapshots(spark, tmp_path, capsys):
    import json

    from meshtastic_airsensor_database_spark.cli.maintain import main as mmain
    from meshtastic_airsensor_database_spark.sources.versioned import (
        snapshot_versions,
        write_snapshot,
    )

    snap = str(tmp_path / "corpus")
    for n in (10, 20, 30):
        write_snapshot(spark.range(n), snap)
    assert mmain(["expire-snapshots", snap, "--keep-last", "1"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["expired_versions"] == [1, 2] and rep["latest"] == 3
    assert snapshot_versions(snap) == [3]


def test_maintain_cli_compact_partitions(spark, tmp_path, capsys):
    import json

    from meshtastic_airsensor_database_spark.cli.maintain import main as mmain

    path = str(tmp_path / "facts")
    for i in range(4):  # append-grown partitions -> degenerate layout
        spark.range(i * 5, i * 5 + 5).withColumn(
            "day", F.lit("2024-01-01")
        ).write.mode("append").partitionBy("day").parquet(path)
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    rc = mmain(["compact-partitions", path, "--partition-by", "day"], spark=spark)
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["partitions_compacted"] == 1
    assert rep["files_after"] < rep["files_before"]
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before


def test_maintain_cli_erase_index(spark, tmp_path, capsys):
    """erase-index over a persisted decon index: JSON report with
    per-subtable removal counts, and the probe is blind to the subject
    afterward (the library test pins semantics; here the CLI wiring +
    id typing + report shape)."""
    import json

    from meshtastic_airsensor_database_spark.cli.maintain import main as mmain
    from meshtastic_airsensor_database_spark.operators.decon_index import (
        build_decon_index,
        probe_decon_index,
    )

    idx = str(tmp_path / "decon_idx")

    def emb(rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    build_decon_index(
        emb([(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])]), idx
    )
    assert mmain(["erase-index", idx, "--ids", "1"], spark=spark) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["cmd"] == "erase-index"
    assert rep["removed"]["vecs"] == 1 and rep["removed"]["bands"] > 0
    assert rep["skipped"] == []
    probe = emb([(100, [2.0, 0.0, 0.0, 0.0]), (101, [0.0, 3.0, 0.0, 0.0])])
    assert {
        (r.eval_id, r.train_id)
        for r in probe_decon_index(probe, idx).collect()
    } == {(101, 2)}
