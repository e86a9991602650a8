"""The ``python -m log_parser_project_spark`` CLI — command parity
with the reference's ``app.py`` and ``hex_decoder_module.cli``."""

import json
import subprocess
import sys

import pytest


def _run(*args: str) -> str:
    r = subprocess.run(
        [sys.executable, "-m", "log_parser_project_spark", *args],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-1000:]
    return r.stdout


def test_cli_list_versions_query_search(tmp_path):
    rows = json.loads(_run("list"))
    assert {r["pattern_class"] for r in rows} == {
        "tool_call", "error", "citation", "metric", "handoff"
    }
    handoff = [r for r in rows if r["pattern_class"] == "handoff"][0]
    assert handoff["n_versions"] == 2 and handoff["versions"] == [1, 2]

    v = json.loads(_run("versions", "handoff"))
    assert [r["version"] for r in v] == [1, 2]

    q = json.loads(_run("query", "handoff", "2"))
    assert [r["field_name"] for r in q] == ["to_role", "reason", "priority"]

    s = json.loads(_run("search", "severity"))
    assert {r["pattern_class"] for r in s} == {"error"}


def test_cli_decode_packet(tmp_path):
    # little-endian packet: payload len 3, logcode 0x1C07, seq 1, ts 2;
    # payload = version byte 01 + two data bytes (u8=0x2A, s8=-1)
    meta = {
        "version_offset_bits": 0,
        "version_length_bits": 8,
        "layouts": {
            "1": [
                {"name": "u8", "offset_bits": 8, "length_bits": 8, "type": "uint"},
                {"name": "s8", "offset_bits": 16, "length_bits": 8, "type": "int"},
            ]
        },
    }
    mpath = tmp_path / "meta.json"
    mpath.write_text(json.dumps(meta))
    hexfile = tmp_path / "pkt.hex"
    hexfile.write_text("0300" + "071c" + "01000000" + "02000000" + "012aff")
    out = json.loads(_run("decode", "--input", str(hexfile), "--metadata", str(mpath)))
    assert out["valid"] is True
    assert out["header"]["logcode_hex"] == "0x1C07"
    assert out["layout_version"] == 1
    assert out["fields"] == {"u8": 42, "s8": -1}
    assert out["metadata"]["decode_time_ms"] > 0


def test_cli_mine_templates(tmp_path):
    d = tmp_path / "logs"
    d.mkdir()
    (d / "a.log").write_text("login uid=1\nlogin uid=2\nboot at 0xFF00\n")
    (d / "b.log").write_text("login uid=9\n")
    rows = json.loads(_run("mine", "--input-text", str(d), "--limit", "10"))
    by_t = {r["template"]: r for r in rows}
    assert by_t["login uid=<N>"]["n_lines"] == 3
    assert by_t["login uid=<N>"]["n_files"] == 2
    assert by_t["login uid=<N>"]["example"] == "login uid=1"
    assert by_t["boot at <HEX>"]["n_lines"] == 1
    # ordered by n_lines desc
    assert rows[0]["template"] == "login uid=<N>"


def test_cli_maintain_rollback_orphans_show(spark, tmp_path):
    from log_parser_project_spark.catalog import SnapshotCatalog

    wh = str(tmp_path / "wh")
    cat = SnapshotCatalog(spark, wh)
    s1 = cat.write_table(spark.createDataFrame([(1, "a")], "k int, r string"), "t")
    cat.write_table(spark.createDataFrame([(2, "b")], "k int, r string"), "t", mode="append")
    out = json.loads(_run(
        "maintain", "--warehouse", wh, "--table", "t",
        "--rollback", s1.snapshot_id,
        "--orphans-older-than", "0",
        "--show", "snapshots",
    ))
    assert out["rolled_back_to"] == s1.snapshot_id
    assert len(out["removed_orphans"]) == 1
    assert [r["snapshot_id"] for r in out["show"]] == [s1.snapshot_id]
    # the rollback is visible to a fresh reader
    assert cat.read_table("t").count() == 1


def test_cli_maintain_publish_and_abandon(spark, tmp_path):
    from log_parser_project_spark.catalog import SnapshotCatalog

    wh = str(tmp_path / "wh")
    cat = SnapshotCatalog(spark, wh)
    cat.write_table(spark.createDataFrame([(1, "a")], "k int, r string"), "t")
    st1 = cat.write_table(
        spark.createDataFrame([(2, "b")], "k int, r string"), "t",
        mode="append", staged=True,
    )
    out = json.loads(_run("maintain", "--warehouse", wh, "--table", "t",
                          "--publish", st1.snapshot_id))
    assert out["published"] == st1.snapshot_id
    assert cat.read_table("t").count() == 2
    st2 = cat.write_table(
        spark.createDataFrame([(3, "c")], "k int, r string"), "t",
        mode="append", staged=True,
    )
    out = json.loads(_run("maintain", "--warehouse", wh, "--table", "t",
                          "--abandon", st2.snapshot_id))
    assert len(out["abandoned_dirs"]) == 1
    assert cat.read_table("t").count() == 2
    assert cat._pending_stages("t") == []


def test_cli_changes(spark, tmp_path):
    from log_parser_project_spark.catalog import SnapshotCatalog

    wh = str(tmp_path / "wh")
    cat = SnapshotCatalog(spark, wh)
    s1 = cat.write_table(spark.createDataFrame([(1, "a")], "k int, r string"), "t")
    cat.write_table(spark.createDataFrame([(2, "b")], "k int, r string"), "t", mode="append")
    rows = json.loads(_run(
        "changes", "--warehouse", wh, "--table", "t", "--from", s1.snapshot_id,
    ))
    assert [(r["k"], r["_change_type"], r["_change_ordinal"]) for r in rows] == [
        (2, "insert", 0)
    ]


def test_cli_maintain_tags(spark, tmp_path):
    from log_parser_project_spark.catalog import SnapshotCatalog

    wh = str(tmp_path / "wh")
    cat = SnapshotCatalog(spark, wh)
    s1 = cat.write_table(spark.createDataFrame([(1, "a")], "k int, r string"), "t")
    out = json.loads(_run(
        "maintain", "--warehouse", wh, "--table", "t",
        "--create-tag", "release-1", "--show", "refs",
    ))
    assert out["tagged"] == {"release-1": s1.snapshot_id}
    assert out["show"] == [{"name": "release-1", "type": "tag",
                            "snapshot_id": s1.snapshot_id, "in_history": True}]
    out = json.loads(_run(
        "maintain", "--warehouse", wh, "--table", "t", "--remove-tag", "release-1",
    ))
    assert out["untagged"] == {"release-1": s1.snapshot_id}


def test_cli_maintain_branches(spark, tmp_path):
    from log_parser_project_spark.catalog import SnapshotCatalog

    wh = str(tmp_path / "wh")
    cat = SnapshotCatalog(spark, wh)
    s1 = cat.write_table(spark.createDataFrame([(1, "a")], "k int, r string"), "t")
    out = json.loads(_run("maintain", "--warehouse", wh, "--table", "t",
                          "--create-branch", "wip"))
    assert out["branched"] == {"wip": s1.snapshot_id}
    b1 = cat.write_table(spark.createDataFrame([(2, "b")], "k int, r string"),
                         "t", mode="append", branch="wip")
    out = json.loads(_run("maintain", "--warehouse", wh, "--table", "t",
                          "--fast-forward", "wip", "--show", "refs"))
    assert out["fast_forwarded"] == {"wip": b1.snapshot_id}
    assert cat.read_table("t").count() == 2


def test_cli_matview_create_refresh_status_print(spark, tmp_path):
    from log_parser_project_spark.catalog import SnapshotCatalog

    wh = str(tmp_path / "wh")
    cat = SnapshotCatalog(spark, wh)
    cat.write_table(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "a", 30)],
            "k int, g string, cents long",
        ),
        "base",
    )
    out = json.loads(_run(
        "matview", "--warehouse", wh, "--view", "mv",
        "--create-over", "base", "--group-by", "g", "--sum", "sum_cents=cents",
        "--status", "--print",
    ))
    assert out["created"] and out["status"]["fresh"] is True
    assert out["rows"] == [
        {"g": "a", "n_rows": 2, "sum_cents": 40},
        {"g": "b", "n_rows": 1, "sum_cents": 20},
    ]
    # base advances out-of-process; refresh folds it and reports delta size
    cat.write_table(
        spark.createDataFrame([(4, "b", 5)], "k int, g string, cents long"),
        "base", mode="append",
    )
    out = json.loads(_run(
        "matview", "--warehouse", wh, "--view", "mv",
        "--refresh", "--compact", "--print",
    ))
    assert out["refreshed"]["delta_rows"] == 1
    assert out["rows"] == [
        {"g": "a", "n_rows": 2, "sum_cents": 40},
        {"g": "b", "n_rows": 2, "sum_cents": 25},
    ]
    # idle refresh is a no-op commit-wise
    out = json.loads(_run("matview", "--warehouse", wh, "--view", "mv", "--refresh"))
    assert out["refreshed"] is None


def test_cli_searchindex_lifecycle(spark, tmp_path):
    from log_parser_project_spark.catalog import SnapshotCatalog

    wh = str(tmp_path / "wh")
    cat = SnapshotCatalog(spark, wh)
    cat.write_table(
        spark.createDataFrame(
            [(1, "spark join window"), (2, "quick brown fox"),
             (3, "join the stream")],
            "doc_id long, text string",
        ),
        "docs",
    )
    out = json.loads(_run(
        "searchindex", "--warehouse", wh, "--index", "idx",
        "--create-over", "docs", "--status",
    ))
    assert set(out["created"]) == {"idx_postings", "idx_docs"}
    assert out["status"]["consistent"] is True
    # the index FOLLOWS an out-of-process base append; query_id is the
    # --query position and the echo carries the original text
    cat.write_table(
        spark.createDataFrame([(4, "spark streaming")], "doc_id long, text string"),
        "docs", mode="append",
    )
    out = json.loads(_run(
        "searchindex", "--warehouse", wh, "--index", "idx",
        "--refresh", "--query", "spark join", "--query", "fox", "--k", "2",
    ))
    assert out["refreshed"]["idx_postings"]["delta_rows"] == 2
    res = out["results"]
    assert [r["doc_id"] for r in res if r["query_id"] == 0] == [1, 4]
    assert [r["doc_id"] for r in res if r["query_id"] == 1] == [2]
    assert res[0]["query"] == "spark join"
    # idle refresh: both views report no-op
    out = json.loads(_run(
        "searchindex", "--warehouse", wh, "--index", "idx", "--refresh"))
    assert out["refreshed"] == {"idx_postings": None, "idx_docs": None}


def test_cli_vectorindex_lifecycle(spark, tmp_path):
    from log_parser_project_spark.catalog import SnapshotCatalog

    wh = str(tmp_path / "wh")
    cat = SnapshotCatalog(spark, wh)
    cat.write_table(
        spark.createDataFrame(
            [(1, [1.0, 0.1, 0.0, 0.0]), (2, [0.0, 0.0, 1.0, 0.1]),
             (3, [0.9, 0.2, 0.0, 0.0]), (4, [0.0, 0.1, 0.9, 0.0])],
            "vec_id long, embedding array<float>",
        ),
        "vecs",
    )
    out = json.loads(_run(
        "vectorindex", "--warehouse", wh, "--index", "vidx",
        "--create-over", "vecs", "--cells", "2", "--status",
    ))
    assert out["created"]
    st = out["status"]
    assert st["fresh"] and st["n_cells"] == 2 and st["dim"] == 4
    # the index FOLLOWS an out-of-process base append; exact-mode query
    # by id returns the planted same-cluster neighbor first
    cat.write_table(
        spark.createDataFrame([(5, [1.0, 0.0, 0.0, 0.0])],
                              "vec_id long, embedding array<float>"),
        "vecs", mode="append",
    )
    out = json.loads(_run(
        "vectorindex", "--warehouse", wh, "--index", "vidx",
        "--refresh", "--query-id", "5", "--k", "2",
    ))
    assert out["refreshed"]["delta_rows"] == 1
    ids = [r["neighbor_id"] for r in out["results"]]
    assert ids == [1, 3]
    # idle refresh: no-op
    out = json.loads(_run(
        "vectorindex", "--warehouse", wh, "--index", "vidx", "--refresh"))
    assert out["refreshed"] is None
    # an id absent from the base table is a loud exit-2 error, never
    # silently-empty results (ADVICE r04: int-typed isin against the
    # id column matched nothing for string ids)
    r = subprocess.run(
        [sys.executable, "-m", "log_parser_project_spark", "vectorindex",
         "--warehouse", wh, "--index", "vidx", "--query-id", "99"],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert r.returncode == 2 and "not in base table" in r.stderr


def test_cli_vectorindex_query_id_leaves_no_cached_frame(spark, tmp_path, capsys):
    """--query-id persists the looked-up query rows; both the answer and
    the exit-2 (unknown id) paths must unpersist them, or every
    in-process call leaks a cached frame."""
    from log_parser_project_spark.__main__ import main
    from log_parser_project_spark.catalog import SnapshotCatalog

    wh = str(tmp_path / "whq")
    SnapshotCatalog(spark, wh).write_table(
        spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
            "vec_id long, embedding array<float>",
        ),
        "vecs",
    )
    base = ["vectorindex", "--warehouse", wh, "--index", "vidx"]
    assert main(base + ["--create-over", "vecs", "--cells", "1"]) == 0
    cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert main(base + ["--query-id", "1", "--k", "1"]) == 0
    assert main(base + ["--query-id", "99"]) == 2
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached
    capsys.readouterr()


def test_cli_vectorindex_string_id_column(spark, tmp_path):
    """--query-id works against a STRING id column: the lookup compares
    through a string cast instead of an int-typed isin (which silently
    matched nothing — r04 ADVICE finding)."""
    from log_parser_project_spark.catalog import SnapshotCatalog

    wh = str(tmp_path / "whs")
    cat = SnapshotCatalog(spark, wh)
    cat.write_table(
        spark.createDataFrame(
            [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("c", [0.0, 1.0])],
            "vec_id string, embedding array<float>",
        ),
        "vecs",
    )
    out = json.loads(_run(
        "vectorindex", "--warehouse", wh, "--index", "vidx",
        "--create-over", "vecs", "--cells", "1",
        "--query-id", "a", "--k", "1",
    ))
    assert [r["neighbor_id"] for r in out["results"]] == ["b"]


@pytest.mark.parametrize("script, marker", [
    pytest.param("table_to_table.py", "still row-identical after the correction",
                 id="table_to_table"),
    pytest.param("stream_ingest.py", "re-sent rows replaced (key-unique)",
                 id="stream_ingest"),
])
def test_table_to_table_example_runs_end_to_end(script, marker):
    """The examples/ runbooks are user-facing API demos that pytest
    otherwise never executes — table_to_table reconciles a
    CDC-maintained mirror against its source with positional set ops,
    which caught a real changelog column-order regression; stream_ingest
    drives the streaming sink's per-batch snapshot commits through
    three drains. Keep both permanently covered. (The others exercise
    surfaces the suite already drives.)"""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, os.path.join(repo, "examples", script)],
        cwd=repo, capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    assert marker in r.stdout
