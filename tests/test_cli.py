"""End-to-end CLI: compress raw text logs -> search -> extract -> stats
(the reference's clp c / clg / clp x verbs)."""

from __future__ import annotations

import json
import os

import pytest

from clpspark.cli import main

N = 120


@pytest.fixture(scope="module")
def logs_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("rawlogs")
    for fname, lo, hi in (("app.log", 0, N), ("db.log", N, 2 * N)):
        lines = []
        for i in range(lo, hi):
            ts = f"2016-05-08 07:{i % 60:02d}:{(i * 7) % 60:02d}.{i % 1000:03d}"
            if i % 10 == 3:
                lines.append(f"{ts} ERROR worker died code {i}")
                lines.append("  at frame one")  # multiline continuation
                lines.append("  at frame two")
            else:
                lines.append(
                    f"{ts} INFO host node-{i % 7} request {i} "
                    f"took {i}.{i % 10} ms"
                )
        (d / fname).write_text("\n".join(lines) + "\n")
    return str(d)


@pytest.fixture(scope="module")
def archive(spark, logs_dir, tmp_path_factory):
    arch = str(tmp_path_factory.mktemp("cliarch") / "archive")
    rc = main(["--cpus", "4", "compress", logs_dir, arch, "--format", "text"])
    assert rc == 0
    return arch


def test_compress_creates_archive(archive):
    for part in ("routed", "logtype_dict", "var_dict", "_snapshots"):
        assert os.path.exists(os.path.join(archive, part)), part


def test_search_count_and_filters(archive, capsys):
    assert main(["compress", "--help"]) if False else True
    rc = main(["--cpus", "4", "search", archive, "*ERROR worker died*",
               "--count"])
    assert rc == 0
    n = int(capsys.readouterr().out.strip().splitlines()[-1])
    assert n == 2 * (N // 10)  # i % 10 == 3 per file
    # file-path restriction (clg --file-path)
    rc = main(["--cpus", "4", "search", archive, "*ERROR worker died*",
               "--count", "--file-path", "db.log"])
    assert rc == 0
    assert int(capsys.readouterr().out.strip().splitlines()[-1]) == N // 10
    # strict/inclusive ts bounds conflict is rejected like the reference
    rc = main(["--cpus", "4", "search", archive, "*", "--tge", "1",
               "--tgt", "1"])
    assert rc == 2


def test_search_prints_matches(archive, capsys):
    rc = main(["--cpus", "4", "search", archive, "* took 204.4 ms",
               "--limit", "5"])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out and all("took 204.4 ms" in line for line in out)
    assert out[0].startswith(("app.log:", "db.log:"))


def test_search_regex(archive, capsys):
    rc = main(["--cpus", "4", "search", archive,
               r"request 11[0-9] took", "--regex", "--count"])
    assert rc == 0
    n = int(capsys.readouterr().out.strip().splitlines()[-1])
    # i in 110..119 minus the i%10==3 ERROR line
    assert n == 9
    rc = main(["--cpus", "4", "search", archive,
               r"request 1[0-9]{2} took", "--regex", "--count",
               "--file-path", "app.log"])
    assert rc == 0
    # app.log holds i in 0..119 -> 100..119 minus two ERROR lines
    assert int(capsys.readouterr().out.strip().splitlines()[-1]) == 18


def test_extract_roundtrip(archive, logs_dir, tmp_path, capsys):
    out_dir = str(tmp_path / "restored")
    rc = main(["--cpus", "4", "extract", archive, out_dir])
    assert rc == 0
    capsys.readouterr()
    for fname in ("app.log", "db.log"):
        orig = open(os.path.join(logs_dir, fname)).read().rstrip("\n")
        got = open(os.path.join(out_dir, fname)).read().rstrip("\n")
        assert got == orig, fname


def test_extract_ir_roundtrip(spark, archive, tmp_path, capsys):
    """clp i analog: archive -> IR chunks -> re-read yields the same
    decoded (ts, message) multiset as the archive itself."""
    from clpspark.operators.decode import decode_messages
    from clpspark.sources.ir_stream import read_ir_files

    out = str(tmp_path / "ir")
    rc = main(["--cpus", "4", "extract-ir", archive, out])
    assert rc == 0
    capsys.readouterr()
    from clpspark.operators.enrich import (
        build_logtype_dict,
        build_var_dict,
        enrich,
    )

    back = read_ir_files(spark, out)
    lt2, vd2 = build_logtype_dict(back), build_var_dict(back)
    got = sorted(
        (r["ts"] or 0, r["message"])
        for r in decode_messages(enrich(back, lt2, vd2), vd2)
        .select("ts", "message").collect()
    )
    routed = spark.read.parquet(f"{archive}/routed")
    want = sorted(
        (r["ts"] or 0, r["message"])
        for r in decode_messages(
            routed,
            spark.read.parquet(f"{archive}/var_dict"),
            logtype_dict=spark.read.parquet(f"{archive}/logtype_dict"),
        ).select("ts", "message").collect()
    )
    assert got and got == want


def test_search_catalog(spark, logs_dir, tmp_path, capsys):
    base = str(tmp_path)
    for i, tags in enumerate((["prod"], ["dev"])):
        rc = main(["--cpus", "4", "compress", logs_dir,
                   f"{base}/arch{i}", "--format", "text",
                   "--catalog", f"{base}/cat"] +
                  [x for t in tags for x in ("--tag", t)])
        assert rc == 0
    capsys.readouterr()
    rc = main(["--cpus", "4", "search-catalog", f"{base}/cat",
               "*ERROR worker died*", "--tag", "prod", "--count"])
    assert rc == 0
    # one archive selected by tag -> one archive's worth of matches
    assert int(capsys.readouterr().out.strip().splitlines()[-1]) \
        == 2 * (N // 10)


def test_stats_json(archive, capsys):
    rc = main(["--cpus", "4", "stats", archive])
    assert rc == 0
    d = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert d["stages"]["route"] == "done"
    assert d["route"]["rows"] == 2 * N
    assert d["route"]["enrich_mode"] in ("map", "join")
    assert d["per_logtype"] and d["n_var_entries"] > 0
    assert sum(r["n_rows"] for r in d["per_logtype"]) == 2 * N


@pytest.fixture(scope="module")
def ndjson_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("ndjson")
    lines = []
    for i in range(60):
        lines.append(json.dumps({
            "ts": f"2024-07-01 08:{i % 60:02d}:00",
            "msg": f"req {i} {'failed' if i % 4 == 0 else 'ok'} fast",
            "svc": f"s{i % 3}",
            "n": i,
        }))
    (d / "a.ndjson").write_text("\n".join(lines) + "\n")
    return str(d)


@pytest.mark.parametrize("single_file", [False, True])
def test_compress_search_json_verbs(ndjson_dir, tmp_path_factory, capsys,
                                    single_file):
    """clp-s c / clp-s s analogs: NDJSON -> encoded archive -> KQL with
    projection, over both the directory and single-file forms."""
    root = tmp_path_factory.mktemp("jsonarch")
    arch = str(root / "arch")
    cat = str(root / "cat")
    argv = ["--cpus", "4", "compress-json", ndjson_dir, arch,
            "--timestamp-key", "ts", "--catalog", cat, "--tag", "web"]
    if single_file:
        argv.append("--single-file-archive")
    assert main(argv) == 0
    info = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "msg" in info["leaves"] and "svc" in info["leaves"]
    target = arch + ".clpa" if single_file else arch
    assert os.path.exists(target)

    assert main(["--cpus", "4", "search-json", target,
                 'msg: "req * failed *" AND svc: s0', "--count"]) == 0
    assert capsys.readouterr().out.strip() == "5"  # i%4==0 and i%3==0

    assert main(["--cpus", "4", "search-json", target,
                 'svc: s1 AND n >= 55',
                 "--projection", "msg", "--projection", "n"]) == 0
    rows = [json.loads(l) for l in
            capsys.readouterr().out.strip().splitlines()]
    assert {r["n"] for r in rows} == {55, 58}
    assert all(r["msg"].startswith("req ") for r in rows)

    # catalog-wide dataset search with ts pruning
    assert main(["--cpus", "4", "search-json-catalog", cat,
                 'msg: "req * ok *"', "--tag", "web", "--count"]) == 0
    assert capsys.readouterr().out.strip() == "45"


def test_compress_json_basename_collisions(tmp_path_factory, capsys):
    """Same-named input files in different directories must not collide:
    doc_ids stay unique (archive-global log_event_idx) and ordered
    decompression recovers the path-sorted ingest order. Two archives
    with the same directory basename both register in one catalog."""
    root = tmp_path_factory.mktemp("jsoncol")
    for sub, lo in (("h1", 0), ("h2", 100)):
        d = root / "logs" / sub
        d.mkdir(parents=True)
        d.joinpath("app.ndjson").write_text("\n".join(
            json.dumps({"msg": f"event {lo + i}", "n": lo + i})
            for i in range(5)
        ) + "\n")
    cat = str(root / "cat")
    arch1 = str(root / "day1" / "arch")
    assert main(["--cpus", "4", "compress-json",
                 str(root / "logs" / "*" / "*.ndjson"),
                 arch1, "--catalog", cat]) == 0
    capsys.readouterr()

    from clpspark.operators.json_encode import JsonArchive
    from clpspark.session import get_spark
    spark = get_spark("t", master="local[4]", shuffle_partitions=4)
    arch = JsonArchive.open(spark, arch1)
    recs = arch.records.select("doc_id", "log_event_idx").collect()
    assert len(recs) == 10
    assert len({r["doc_id"] for r in recs}) == 10  # no cross-dir collision
    # archive-global ordered index: h1 rows 0-4, h2 rows 5-9 (path-sorted)
    assert sorted(r["log_event_idx"] for r in recs) == list(range(10))

    # a second archive with the SAME basename registers (id fingerprinted)
    arch2 = str(root / "day2" / "arch")
    assert main(["--cpus", "4", "compress-json", str(root / "logs" / "h1"),
                 arch2, "--catalog", cat]) == 0
    capsys.readouterr()
    assert main(["--cpus", "4", "search-json-catalog", cat,
                 'msg: "EVENT *"', "-i", "--count"]) == 0
    assert capsys.readouterr().out.strip() == "15"  # 10 + 5, both archives


def test_search_output_handlers(archive, tmp_path, capsys, spark):
    """--output routes results like clo's handler choice: socket://
    streams msgpack tuples, a directory URI is a latest-N results cache."""
    import socketserver
    import threading
    import time

    from clpspark.sinks.msgpack_lite import Unpacker

    chunks: list[bytes] = []

    class _Srv(socketserver.ThreadingTCPServer):
        allow_reuse_address = True
        daemon_threads = True

    class _H(socketserver.BaseRequestHandler):
        def handle(self):
            buf = bytearray()
            while True:
                b = self.request.recv(1 << 16)
                if not b:
                    break
                buf += b
            chunks.append(bytes(buf))

    srv = _Srv(("127.0.0.1", 0), _H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    try:
        rc = main(["--cpus", "4", "search", archive, "*ERROR worker died*",
                   "--output", f"socket://127.0.0.1:{port}"])
        assert rc == 0
        srv.shutdown()
        deadline = time.monotonic() + 15
        while time.monotonic() < deadline:
            tups = [t for c in list(chunks) for t in Unpacker(bytes(c))]
            if len(tups) >= 2 * (N // 10):
                break
            time.sleep(0.05)
        assert len(tups) == 2 * (N // 10)
        assert all("ERROR worker died" in t[1] for t in tups)
        assert {t[2] for t in tups} == {"app.log", "db.log"}
    finally:
        srv.server_close()

    # results cache with retention: keep the 5 latest by ts
    rc = main(["--cpus", "4", "search", archive, "*ERROR worker died*",
               "--output", str(tmp_path), "--max-results", "5"])
    assert rc == 0
    got = spark.read.parquet(str(tmp_path / "results")).collect()
    assert len(got) == 5
    assert all("ERROR worker died" in r["message"] for r in got)
    # flushed ascending (heap-pop order), and these are the global top-5 ts
    ts = [r["timestamp"] for r in got]
    assert ts == sorted(ts)


def test_search_json_output_cache(ndjson_dir, tmp_path, capsys, spark):
    """search-json --output marshals each row as JSON into the message
    slot with the archive in the file-id slot (clp_s handler layout)."""
    arch = str(tmp_path / "arch")
    assert main(["--cpus", "4", "compress-json", ndjson_dir, arch,
                 "--timestamp-key", "ts"]) == 0
    capsys.readouterr()
    out = str(tmp_path / "cache")
    assert main(["--cpus", "4", "search-json", arch,
                 'svc: s1 AND n >= 55', "--projection", "msg",
                 "--projection", "n", "--output", out]) == 0
    rows = spark.read.parquet(os.path.join(out, "results")).collect()
    docs = [json.loads(r["message"]) for r in rows]
    assert {d["n"] for d in docs} == {55, 58}
    assert all(r["orig_file_id"] == arch for r in rows)


@pytest.mark.parametrize("single_file", [False, True])
def test_extract_json_roundtrip(tmp_path_factory, capsys, single_file):
    """clp-s x analog: compress-json then extract-json reproduces the
    original NDJSON byte-exactly, in ingest order, across both the
    directory and single-file archive forms. Keys are written in the
    inferred-schema (alphabetical) order so the comparison is literal."""
    import glob

    root = tmp_path_factory.mktemp("xjson")
    src_dir = root / "src"
    src_dir.mkdir()
    lines = [
        json.dumps({
            "msg": f"job {i} took {i} ms" if i % 7 else None,
            "n": i,
            "svc": f"s{i % 3}",
            "ts": f"2024-07-01 08:{i % 60:02d}:00",
        }, sort_keys=True, separators=(",", ":"))
        for i in range(80)
    ]
    (src_dir / "a.ndjson").write_text("\n".join(lines) + "\n")
    arch = str(root / "arch")
    argv = ["--cpus", "4", "compress-json", str(src_dir), arch,
            "--timestamp-key", "ts"]
    if single_file:
        argv.append("--single-file-archive")
    assert main(argv) == 0
    capsys.readouterr()
    target = arch + ".clpa" if single_file else arch
    out = str(root / "out")
    assert main(["--cpus", "4", "extract-json", target, out]) == 0
    got = []
    for part in sorted(glob.glob(os.path.join(out, "part-*"))):
        with open(part) as f:
            got.extend(f.read().splitlines())
    # null msg keys are dropped on both sides (to_json semantics)
    want = [json.dumps({k: v for k, v in json.loads(l).items()
                        if v is not None},
                       sort_keys=True, separators=(",", ":"))
            for l in lines]
    assert got == want


def test_teq_and_count_by_time(archive, capsys):
    """clg --teq (exact-timestamp filter) and clo --count-by-time SIZE
    (bucketed match counts)."""
    # find one real event timestamp via a narrow search
    rc = main(["--cpus", "4", "search", archive, "*request 5 took*",
               "--count-by-time", "60000"])
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) >= 1
    bucket, cnt = map(int, lines[0].split("\t"))
    assert bucket % 60000 == 0 and cnt == 1

    # --teq happy path: bucket size 1 ms makes bucket == the exact event
    # ts; --teq that value must find the event again
    rc = main(["--cpus", "4", "search", archive, "*request 5 took*",
               "--count-by-time", "1"])
    assert rc == 0
    exact_ts = int(capsys.readouterr().out.strip().splitlines()[0]
                   .split("\t")[0])
    rc = main(["--cpus", "4", "search", archive, "*", "--teq",
               str(exact_ts), "--count"])
    assert rc == 0
    assert int(capsys.readouterr().out.strip().splitlines()[-1]) >= 1
    # and a ts 1 ms off finds nothing for the narrow query
    rc = main(["--cpus", "4", "search", archive, "*request 5 took*",
               "--teq", str(exact_ts + 1), "--count"])
    assert rc == 0
    assert int(capsys.readouterr().out.strip().splitlines()[-1]) == 0

    # exclusivity contract (the reference's error message)
    rc = main(["--cpus", "4", "search", archive, "*", "--teq", "1",
               "--tge", "1"])
    assert rc == 2
    assert "--teq" in capsys.readouterr().err

    # count-by-time over the whole archive sums to the total match count
    rc = main(["--cpus", "4", "search", archive, "*", "--count"])
    total = int(capsys.readouterr().out.strip().splitlines()[-1])
    rc = main(["--cpus", "4", "search", archive, "*",
               "--count-by-time", "3600000"])
    assert rc == 0
    got = sum(int(l.split("\t")[1])
              for l in capsys.readouterr().out.strip().splitlines())
    assert got == total


def test_files_from_and_remove_path_prefix(logs_dir, tmp_path_factory,
                                           capsys):
    """clp -f/--files-from (explicit file list, sorted by default) and
    --remove-path-prefix (archived paths keep structure minus prefix)."""
    arch = str(tmp_path_factory.mktemp("cliarch_ff") / "archive")
    listing = str(tmp_path_factory.mktemp("cliarch_ff") / "files.txt")
    with open(listing, "w") as fh:
        fh.write(f"{logs_dir}/db.log\n\n# comment\n")
    rc = main(["--cpus", "4", "compress", f"{logs_dir}/app.log", arch,
               "--format", "text", "--files-from", listing,
               "--remove-path-prefix", os.path.dirname(logs_dir)])
    assert rc == 0
    capsys.readouterr()
    # both listed files ingested; sources are prefix-stripped paths
    rc = main(["--cpus", "4", "search", arch, "*ERROR worker died*"])
    assert rc == 0
    out = capsys.readouterr().out
    base = os.path.basename(logs_dir)
    assert f"{base}/app.log: " in out
    assert f"{base}/db.log: " in out

    # unreadable listing is a clean usage error
    rc = main(["--cpus", "4", "compress", f"{logs_dir}/app.log", arch,
               "--format", "text", "--files-from", listing + ".nope"])
    assert rc == 2

    # colliding STORED names (two dirs, same basename, no prefix) refused
    other = tmp_path_factory.mktemp("cliarch_ff2")
    (other / "app.log").write_text("2016-05-08 07:00:00.000 INFO x\n")
    with open(listing, "w") as fh:
        fh.write(f"  # indented comment must be skipped\n{other}/app.log\n")
    rc = main(["--cpus", "4", "compress", f"{logs_dir}/app.log",
               arch + "c", "--format", "text", "--files-from", listing])
    assert rc == 2
    assert "collide" in capsys.readouterr().err


def test_count_by_time_output_handler(archive, tmp_path, capsys):
    """--count-by-time routes through --output like row results."""
    cache = str(tmp_path / "buckets_cache")
    rc = main(["--cpus", "4", "search", archive, "*ERROR worker died*",
               "--count-by-time", "3600000", "--output", cache])
    assert rc == 0
    err = capsys.readouterr().err
    assert "cached" in err
    assert os.path.exists(cache)


def test_remove_path_prefix_with_space_in_path(tmp_path_factory, capsys):
    """input_file_name() is percent-encoded; prefix stripping must decode
    first or 'my logs/app.log' never matches."""
    root = tmp_path_factory.mktemp("spacedir")
    d = root / "my logs"
    d.mkdir()
    (d / "app.log").write_text(
        "2016-05-08 07:00:00.000 INFO spaced path event 1\n")
    arch = str(root / "arch")
    rc = main(["--cpus", "4", "compress", str(d), arch, "--format", "text",
               "--remove-path-prefix", str(root)])
    assert rc == 0
    capsys.readouterr()
    rc = main(["--cpus", "4", "search", arch, "*spaced path event*"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "my logs/app.log: " in out


def test_compress_json_max_document_size(ndjson_dir, tmp_path_factory,
                                         capsys):
    """clp-s --max-document-size: an oversized document fails the
    compression (reference semantics), a generous cap succeeds."""
    arch = str(tmp_path_factory.mktemp("cliarch_mds") / "jarch")
    rc = main(["--cpus", "4", "compress-json", ndjson_dir, arch,
               "--max-document-size", "10"])
    assert rc == 1
    assert "exceed" in capsys.readouterr().err
    rc = main(["--cpus", "4", "compress-json", ndjson_dir, arch + "2",
               "--max-document-size", "1000000"])
    assert rc == 0


def test_extract_file_path_and_msg_ix(archive, logs_dir, tmp_path, capsys):
    """clp x single-file extraction (--file-path) and clo --msg-ix single-
    message extraction (the log-viewer 'surrounding events' path)."""
    out = str(tmp_path / "one")
    rc = main(["--cpus", "4", "extract", archive, out,
               "--file-path", "app.log"])
    assert rc == 0
    capsys.readouterr()
    assert sorted(os.listdir(out)) == ["app.log"]
    with open(os.path.join(logs_dir, "app.log")) as f:
        want = f.read().rstrip("\n")
    with open(os.path.join(out, "app.log")) as f:
        assert f.read().rstrip("\n") == want

    # single message by index
    rc = main(["--cpus", "4", "extract", archive, out,
               "--file-path", "app.log", "--msg-ix", "0"])
    assert rc == 0
    first = capsys.readouterr().out.rstrip("\n")
    assert first == want.split("\n")[0].rstrip()

    # a run of messages
    rc = main(["--cpus", "4", "extract", archive, out,
               "--file-path", "app.log", "--msg-ix", "2", "--msg-count", "2"])
    assert rc == 0
    lines = capsys.readouterr().out.rstrip("\n")
    assert len(lines.splitlines()) >= 2

    # --msg-ix without --file-path is a usage error
    rc = main(["--cpus", "4", "extract", archive, out, "--msg-ix", "0"])
    assert rc == 2


def test_dump_dict(archive, tmp_path, capsys):
    """make-dictionaries-readable analog: \\i/\\f/\\d placeholder
    rendering, one entry per line, id order."""
    out = str(tmp_path / "dicts")
    rc = main(["--cpus", "4", "dump-dict", archive, out])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    with open(os.path.join(out, "logtype.dict.hr")) as f:
        logtypes = f.read().rstrip("\n").split("\n")
    with open(os.path.join(out, "var.dict.hr")) as f:
        variables = f.read().rstrip("\n").split("\n")
    assert len(logtypes) == stats["logtypes"] > 0
    assert len(variables) == stats["variables"] > 0
    # the corpus has int and float variables -> placeholders rendered
    joined = "\n".join(logtypes)
    assert "\\i" in joined and "\\f" in joined
    # no raw placeholder bytes leak into the readable output
    for ch in ("\x11", "\x12", "\x13"):
        assert ch not in joined
    # dict variables (node-N hostnames) land in the var dict
    assert any("node-" in v for v in variables)


def test_compress_json_disable_log_order(tmp_path_factory, capsys):
    """clp-s --disable-log-order: ingest succeeds without the global
    renumber pass; repeated basenames are refused up front."""
    d = tmp_path_factory.mktemp("ndj_dlo")
    for sub_name in ("a", "b"):
        with open(d / f"{sub_name}.ndjson", "w") as f:
            for i in range(5):
                f.write(json.dumps({"m": f"{sub_name}{i}", "n": i}) + "\n")
    arch = str(tmp_path_factory.mktemp("ndj_dlo_arch") / "jarch")
    rc = main(["--cpus", "4", "compress-json", str(d), arch,
               "--disable-log-order"])
    assert rc == 0
    capsys.readouterr()
    rc = main(["--cpus", "4", "search-json", arch, "n >= 0", "--count"])
    assert rc == 0
    assert int(capsys.readouterr().out.strip().splitlines()[-1]) == 10

    # repeated basenames without global numbering would collide -> refused
    # (glob input, like the basename-collision ingest test)
    d2 = tmp_path_factory.mktemp("ndj_dlo2")
    for sub_name in ("a", "b"):
        os.makedirs(d2 / sub_name)
        with open(d2 / sub_name / "same.ndjson", "w") as f:
            f.write(json.dumps({"m": sub_name}) + "\n")
    rc = main(["--cpus", "4", "compress-json", str(d2 / "*" / "*.ndjson"),
               arch + "2", "--disable-log-order"])
    assert rc == 2
    assert "basename" in capsys.readouterr().err


def test_compress_target_encoded_size(small_corpus, tmp_path_factory,
                                      capsys):
    """clp --target-encoded-size on the CLI: one compress run emits
    multiple catalog-registered archives near the byte target."""
    root = tmp_path_factory.mktemp("cli_split")
    arch = str(root / "arch")
    cat = str(root / "cat")
    rc = main(["--cpus", "4", "compress", small_corpus, arch,
               "--format", "corpus", "--target-encoded-size", "30000",
               "--catalog", cat])
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["n_archives"] >= 2
    # the whole run searches as one catalog query
    rc = main(["--cpus", "4", "search-catalog", cat, "*", "--count"])
    assert rc == 0
    assert int(capsys.readouterr().out.strip().splitlines()[-1]) == 1000


def test_compress_text_target_encoded_size(logs_dir, tmp_path_factory,
                                           capsys):
    """--target-encoded-size over RAW TEXT logs (the reference's primary
    split case): multiple time-contiguous archives, all events searchable
    through the shared-generation catalog plan."""
    root = tmp_path_factory.mktemp("cli_tsplit")
    arch = str(root / "arch")
    cat = str(root / "cat")
    rc = main(["--cpus", "4", "compress", logs_dir, arch,
               "--format", "text", "--target-encoded-size", "4000",
               "--catalog", cat])
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["n_archives"] >= 2
    assert metrics["rows"] == 2 * N
    rc = main(["--cpus", "4", "search-catalog", cat,
               "*ERROR worker died*", "--count"])
    assert rc == 0
    assert int(capsys.readouterr().out.strip().splitlines()[-1]) \
        == 2 * (N // 10)


@pytest.mark.parametrize(
    ("raw", "safe"),
    [
        ("svc.log", "svc.log"),
        ("../../etc/passwd", "_/_/etc/passwd".replace("/", "_")),
        ("a/b.log", "a_b.log"),
        ("..", "_"),
        ("", "_"),
    ],
)
def test_safe_member_name(raw, safe):
    from clpspark.cli import _safe_member_name

    out = _safe_member_name(raw)
    assert "/" not in out and ".." not in out and out
    assert out == safe


def test_cli_search_streams_results(spark, monkeypatch, tmp_path, capsys):
    """Unlimited search printing must go through toLocalIterator, not a
    driver-side collect of the whole match set."""
    from clpspark import cli

    df = spark.createDataFrame(
        [("s1", 1, "hello a"), ("s2", 2, "hello b")],
        "source string, ts long, message string",
    )
    called = {"collect": 0}
    orig = type(df).collect

    def spy(self):
        called["collect"] += 1
        return orig(self)

    monkeypatch.setattr(type(df), "collect", spy)
    cli._print_matches(df)
    out = capsys.readouterr().out
    assert "s1: hello a" in out and "s2: hello b" in out
    assert called["collect"] == 0
