"""The spark-submit entry (main.py): spec JSON → batch run → sinks on
disk, resume on rerun."""

from __future__ import annotations

import json
import subprocess
import sys
import os


def test_main_cli_end_to_end(spark, tmp_path):
    # use the session fixture only to produce the input table
    from logstash_spark.sources.gen import input_sequences

    input_sequences(spark, 500, partitions=2).write.parquet(str(tmp_path / "in"))

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec_path = str(tmp_path / "spec.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")

    r = subprocess.run(
        [sys.executable, f"{repo}/main.py", "--write-example-spec", spec_path],
        capture_output=True, text=True, env=env, cwd=repo,
    )
    assert r.returncode == 0, r.stderr[-500:]

    cmd = [
        sys.executable, f"{repo}/main.py",
        "--spec", spec_path,
        "--input", str(tmp_path / "in"),
        "--sinks-root", str(tmp_path / "sinks"),
        "--master", "local[4]",
    ]
    r1 = subprocess.run(cmd, capture_output=True, text=True, env=env, cwd=repo, timeout=300)
    assert r1.returncode == 0, r1.stderr[-800:]
    out = json.loads(r1.stdout.strip().splitlines()[-1])
    assert out["sink_counts"]["sink_errors"] > 0
    assert not out["skipped_sinks"]
    assert (tmp_path / "sinks" / "sink_edge").exists()
    assert (tmp_path / "sinks" / "_lineage").exists()

    # rerun: identical input → same run_id → all sinks skipped (resume)
    r2 = subprocess.run(cmd, capture_output=True, text=True, env=env, cwd=repo, timeout=300)
    assert r2.returncode == 0, r2.stderr[-800:]
    out2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert out2["run_id"] == out["run_id"]
    assert set(out2["skipped_sinks"]) == set(out["sink_counts"])


def test_spark_submit_py_files_end_to_end(spark, tmp_path):
    """The north-rule submission shape, literally: package the library
    as a zip, run `spark-submit --py-files logstash_spark.zip main.py`
    from OUTSIDE the repo (cwd = tmp), so the driver and executors get
    the code exclusively through --py-files."""
    import shutil
    import zipfile

    from logstash_spark.sources.gen import input_sequences

    submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(submit):
        import pytest

        pytest.skip("spark-submit not on this machine")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    input_sequences(spark, 500, partitions=2).write.parquet(str(tmp_path / "in"))

    zip_path = str(tmp_path / "logstash_spark.zip")
    with zipfile.ZipFile(zip_path, "w") as z:
        pkg = os.path.join(repo, "logstash_spark")
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, repo))
    shutil.copy(os.path.join(repo, "main.py"), tmp_path / "main.py")

    spec_path = str(tmp_path / "spec.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    r = subprocess.run(
        [sys.executable, f"{repo}/main.py", "--write-example-spec", spec_path],
        capture_output=True, text=True, env=env, cwd=repo,
    )
    assert r.returncode == 0, r.stderr[-500:]

    r1 = subprocess.run(
        [
            # local[3] is deliberately NOT get_spark's default: the
            # assert below proves spark-submit's --master is honored
            submit, "--master", "local[3]", "--py-files", zip_path,
            str(tmp_path / "main.py"),
            "--spec", spec_path,
            "--input", str(tmp_path / "in"),
            "--sinks-root", str(tmp_path / "sinks"),
        ],
        capture_output=True, text=True, env=env, cwd=str(tmp_path), timeout=420,
    )
    assert r1.returncode == 0, r1.stderr[-1500:]
    out = json.loads(r1.stdout.strip().splitlines()[-1])
    assert out["sink_counts"]["sink_errors"] > 0
    assert out["master"] == "local[3]"
    assert (tmp_path / "sinks" / "_lineage").exists()


def test_main_cli_streaming_writes_physical_sinks_only(spark, tmp_path, monkeypatch):
    """`--streaming` writes the .conf's file outputs; a `pipeline`
    send is a virtual sink and gets no partition."""
    import logstash_spark.session
    import main

    spark.createDataFrame(
        [("ERROR", "a"), ("INFO", "b"), ("ERROR", "c")], ["level", "message"]
    ).write.parquet(str(tmp_path / "in"))
    conf = tmp_path / "p.conf"
    conf.write_text(
        """
        filter { mutate { add_field => { "seen" => "yes" } } }
        output {
          if [level] == "ERROR" { file { id => "errors" } }
          pipeline { send_to => ["audit"] }
        }
        """
    )
    # the streaming run reuses the test session instead of building one
    monkeypatch.setattr(logstash_spark.session, "get_spark", lambda **_: spark)
    rc = main.main([
        "--spec", str(conf), "--input", str(tmp_path / "in"),
        "--sinks-root", str(tmp_path / "sinks"), "--streaming",
    ])
    assert rc == 0
    parts = sorted(p.name for p in (tmp_path / "sinks").iterdir() if p.name.startswith("sink="))
    assert parts == ["sink=errors"]
    assert spark.read.parquet(str(tmp_path / "sinks" / "sink=errors")).count() == 2


def test_main_cli_rejects_unknown_spec_keys(tmp_path, capsys):
    """A JSON spec key main.py does not read is an error, not a silent
    default: `dlq_sink`, `sinks`, `listen` and a typo all name
    themselves in the message, and no Spark session starts."""
    import pytest

    import main

    doc = main.example_spec()
    doc.update({
        "dlq_sink": "failures",
        "sinks": [{"name": "sink_edge", "drop_columns": ["tokens"]}],
        "listen": ["metrics"],
        "else_snk": "sink_rest",
    })
    spec_path = tmp_path / "spec.json"
    spec_path.write_text(json.dumps(doc))
    with pytest.raises(SystemExit) as exc:
        main.main([
            "--spec", str(spec_path), "--input", str(tmp_path / "in"),
            "--sinks-root", str(tmp_path / "sinks"),
        ])
    assert exc.value.code == 2
    err = capsys.readouterr().err
    for key in ("dlq_sink", "sinks", "listen", "else_snk"):
        assert f"'{key}'" in err, err
    assert not (tmp_path / "sinks").exists()
    # the example spec itself stays valid
    main.spec_from_json(main.example_spec())
