"""KQL planner over encoded JSON archives (plans/kql_archive): filters
routed to dictionary pre-filters / var-dict lookups / typed records
predicates, combined with doc-id set algebra — results cross-checked
against brute-force evaluation of the original rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def arch_rows(spark, tmp_path_factory):
    from clpspark.operators.json_encode import write_json_archive

    rows = []
    for i in range(240):
        rows.append(
            (
                f"d{i:04d}",
                f"2016-05-08 07:{i % 60:02d}:{(i * 3) % 60:02d}.{i % 1000:03d}",
                (
                    f"job {i} failed after {i % 60}.{i % 10} ms on host{i % 7}"
                    if i % 4 == 0
                    else f"job {i} completed in {i % 60}.{i % 10} ms on host{i % 7}"
                ),
                f"t{i % 3}",
                i,
                i % 5 == 0,
                (f"u{i % 2}",),
            )
        )
    df = spark.createDataFrame(
        rows,
        "doc_id string, t string, msg string, tag string, n long, "
        "flag boolean, ctx struct<user:string>",
    )
    out = str(tmp_path_factory.mktemp("kqlarch"))
    arch = write_json_archive(df, out, ts_leaf="t")
    return arch, rows


def _ids(arch, q, **kw):
    return {r["doc_id"] for r in arch.kql(q, **kw).select("doc_id").collect()}


def test_varstring_equality_and_not(arch_rows):
    arch, rows = arch_rows
    assert _ids(arch, "tag: t1") == {r[0] for r in rows if r[3] == "t1"}
    assert _ids(arch, "NOT tag: t1") == {r[0] for r in rows if r[3] != "t1"}
    assert _ids(arch, "tag: zzz") == set()


def test_clpstring_wildcard_and_bool(arch_rows):
    arch, rows = arch_rows
    want = {r[0] for r in rows if "failed" in r[2] and r[5]}
    assert _ids(arch, 'msg: "*failed*" AND flag: true') == want


def test_or_not_combinations(arch_rows):
    arch, rows = arch_rows
    want = {
        r[0] for r in rows
        if r[3] == "t2" or not ("host3" in r[2])
    }
    assert _ids(arch, 'tag: t2 OR NOT msg: "*host3*"') == want
    # De Morgan branch: NOT a AND NOT b
    want2 = {r[0] for r in rows if r[3] != "t0" and "failed" not in r[2]}
    assert _ids(arch, 'NOT tag: t0 AND NOT msg: "*failed*"') == want2


def test_typed_records_predicates(arch_rows):
    arch, rows = arch_rows
    assert _ids(arch, "n >= 200") == {r[0] for r in rows if r[4] >= 200}
    want = {r[0] for r in rows if r[4] < 30 and r[6][0] == "u1"}
    assert _ids(arch, "n < 30 AND ctx: {user: u1}") == want


def test_value_list_and_presence(arch_rows):
    arch, rows = arch_rows
    assert _ids(arch, "tag: (t0 OR t2)") == {
        r[0] for r in rows if r[3] in ("t0", "t2")
    }
    assert _ids(arch, "msg: *") == {r[0] for r in rows}


def test_date_leaf_compare(arch_rows):
    arch, rows = arch_rows
    cut = 'date("2016-05-08 07:30:00.000")'
    got = _ids(arch, f"t >= {cut} AND tag: t0")
    # minute >= 30 given the fixture's ts layout
    want = {r[0] for r in rows if int(r[1][14:16]) >= 30 and r[3] == "t0"}
    assert got == want


def test_range_op_on_string_leaf_is_empty(arch_rows):
    arch, _ = arch_rows
    assert _ids(arch, "tag > 5") == set()


def test_ambiguous_varstring_goldens(spark, tmp_path_factory):
    """Reference goldens (test-clp_s-search.cpp): 'a*e' as a query value is
    a wildcard (matches abcde/ae/a*e); 'a\\*e' matches only the literal."""
    from clpspark.operators.json_encode import write_json_archive

    rows = [("d0", "abcde"), ("d1", "ae"), ("d2", "a*e"), ("d3", "zz")]
    df = spark.createDataFrame(rows, "doc_id string, v string")
    arch = write_json_archive(df, str(tmp_path_factory.mktemp("amb")))
    assert _ids(arch, 'v: "a*e"') == {"d0", "d1", "d2"}
    assert _ids(arch, 'v: "a\\*e"') == {"d2"}


def test_array_archive_kql(spark, tmp_path_factory):
    """The golden array shapes through the planner: typed exists over
    records + dictionary-pre-filtered grep over the array leaf, ANDed."""
    from clpspark.operators.json_encode import write_json_archive

    rows = []
    for i in range(120):
        elems = [
            {"b": (i * 13 + j * 7) % 2000,
             "d": {"e": f"item {i} tag{(i + j) % 9}"}}
            for j in range(1 + i % 3)
        ]
        rows.append((f"d{i:04d}", elems))
    df = spark.createDataFrame(
        rows, "doc_id string, arr array<struct<b:long, d:struct<e:string>>>"
    )
    arch = write_json_archive(
        df, str(tmp_path_factory.mktemp("karr")), structurize_arrays=True
    )
    got = _ids(arch, 'arr.b > 1000 AND arr.d.e: "item * tag3"')
    want = {
        f"d{i:04d}" for i in range(120)
        if any((i * 13 + j * 7) % 2000 > 1000 for j in range(1 + i % 3))
        and any((i + j) % 9 == 3 for j in range(1 + i % 3))
    }
    assert got == want and got


def test_not_absent_column_golden(spark, tmp_path_factory):
    """Reference golden (test-clp_s-search.cpp 'NOT a: b -> {0}'): records
    LACKING the column do not match even the negated filter."""
    from clpspark.operators.json_encode import write_json_archive

    rows = [
        ("d0", "clp string", "x"),
        ("d1", None, "y"),
        ("d2", None, "z z z"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, a string, m string")
    arch = write_json_archive(df, str(tmp_path_factory.mktemp("notabs")))
    assert _ids(arch, "NOT a: b") == {"d0"}
    assert _ids(arch, 'NOT a: "clp string"') == set()
    # presence negation: NOT a: * matches exactly the absent docs
    assert _ids(arch, "NOT a: *") == {"d1", "d2"}
    # compound De Morgan under 3VL: NOT (a: b OR m: y) requires BOTH
    # negations true — d1/d2 lack a, so only d0 (a != b, m != y) matches
    assert _ids(arch, "NOT (a: b OR m: y)") == {"d0"}


def test_wildcard_descriptors_reach_encoded_leaves(arch_rows):
    """'$*'-style wildcard column descriptors must probe the encoded
    string-leaf sinks too (top-level string leaves are dropped from
    records, so records-schema expansion alone would miss them)."""
    arch, rows = arch_rows
    # 'm*g' expands to the encoded msg leaf
    want = {r[0] for r in rows if "failed" in r[2]}
    assert _ids(arch, 'm*g: "*failed*"') == want
    # '$*.user' reaches the nested encoded leaf ctx.user
    assert _ids(arch, '$*.user: u1') == {
        r[0] for r in rows if r[6][0] == "u1"
    }
    # numeric wildcard compare stays on records
    assert _ids(arch, "n* >= 200") == {r[0] for r in rows if r[4] >= 200}
    # no compatible column -> empty, its negation -> everything
    assert _ids(arch, "zz*: 5") == set()
    assert _ids(arch, "NOT zz*: 5") == {r[0] for r in rows}


def test_typed_only_archive_plans(spark, tmp_path_factory):
    """An archive with no string leaves (empty columns dir) must still
    answer purely typed queries."""
    from clpspark.operators.json_encode import write_json_archive

    df = spark.createDataFrame(
        [(f"d{i}", i) for i in range(20)], "doc_id string, n long"
    )
    arch = write_json_archive(df, str(tmp_path_factory.mktemp("typed")))
    assert _ids(arch, "n >= 15") == {f"d{i}" for i in range(15, 20)}


def test_quoted_star_is_exists(spark, tmp_path_factory):
    from clpspark.operators.json_encode import write_json_archive

    rows = [("d0", "x"), ("d1", None)]
    df = spark.createDataFrame(rows, "doc_id string, a string")
    arch = write_json_archive(df, str(tmp_path_factory.mktemp("qstar")))
    assert _ids(arch, 'a: "*"') == {"d0"}
    assert _ids(arch, 'NOT a: "*"') == {"d1"}


def test_randomized_equivalence_with_kql_filter(spark, arch_rows):
    """40 seeded-random query trees: the encoded-archive planner must agree
    with the direct DataFrame KQL compiler (plans/kql.kql_filter) on the
    original rows — exercises every AND/OR/NOT algebra branch against
    Catalyst's 3-valued logic."""
    import random

    from clpspark.plans.kql import kql_filter

    arch, rows = arch_rows
    df = spark.createDataFrame(
        [(r[0], r[2], r[3], r[4], r[5], r[6]) for r in rows],
        "doc_id string, msg string, tag string, n long, flag boolean, "
        "ctx struct<user:string>",
    ).localCheckpoint(eager=True)

    rng = random.Random(7)
    atoms = [
        lambda: f"tag: t{rng.randrange(4)}",
        lambda: 'msg: "*failed*"',
        lambda: f'msg: "*host{rng.randrange(8)}*"',
        lambda: "msg: *",
        lambda: f"n > {rng.randrange(240)}",
        lambda: f"n <= {rng.randrange(240)}",
        lambda: f"flag: {str(rng.random() < 0.5).lower()}",
        lambda: f"ctx: {{user: u{rng.randrange(3)}}}",
        lambda: f"tag: (t0 OR t{rng.randrange(3)})",
    ]

    def gen(depth: int) -> str:
        if depth == 0 or rng.random() < 0.4:
            q = rng.choice(atoms)()
        else:
            a, b = gen(depth - 1), gen(depth - 1)
            op = rng.choice(["AND", "OR"])
            q = f"({a} {op} {b})"
        if rng.random() < 0.3:
            q = f"NOT {q}"
        return q

    for i in range(40):
        q = gen(2)
        got = _ids(arch, q)
        want = {
            r["doc_id"]
            for r in kql_filter(df, q).select("doc_id").collect()
        }
        assert got == want, f"query #{i}: {q}"


def test_catalog_kql_across_json_archives(spark, tmp_path_factory):
    """clp_s dataset search analog: KQL across registered JSON archives
    with tag/ts pruning; per-archive dictionaries, archive_id provenance,
    schema drift tolerated; text archives in the same catalog skipped."""
    from clpspark.catalog import register_archive, search_json_archives
    from clpspark.operators.json_encode import write_json_archive

    base = tmp_path_factory.mktemp("jcat")
    catalog = str(base / "catalog")

    def build(name, n0, n1, extra_col):
        rows = []
        for i in range(n0, n1):
            r = (f"{name}-{i:04d}",
                 f"2016-05-08 0{7 if name == 'a' else 8}:00:{i % 60:02d}.000",
                 f"job {i} {'failed' if i % 2 else 'done'} fast",
                 f"t{i % 2}")
            rows.append(r + ((i,) if extra_col else ()))
        schema = "doc_id string, t string, msg string, tag string"
        if extra_col:
            schema += ", n long"
        df = spark.createDataFrame(rows, schema)
        out = str(base / name)
        arch = write_json_archive(df, out, ts_leaf="t")
        eps = arch.records.agg(
            F.min("t.epoch").alias("b"), F.max("t.epoch").alias("e"),
            F.count("*").alias("n")).first()
        register_archive(spark, catalog, archive_id=name, path=out,
                         begin_ts=eps["b"], end_ts=eps["e"], n_rows=eps["n"],
                         tags=["json", name])
        return eps

    e_a = build("a", 0, 40, extra_col=True)
    build("b", 100, 140, extra_col=False)
    # a text archive in the same catalog must be skipped
    register_archive(spark, catalog, archive_id="txt", path=str(base / "x"),
                     begin_ts=0, end_ts=1, n_rows=0, tags=["json"])

    got = search_json_archives(
        spark, catalog, 'msg: "*failed*" AND tag: t1'
    )
    by_arch = {r["doc_id"]: r["archive_id"] for r in got.collect()}
    want = {f"a-{i:04d}" for i in range(40) if i % 2 == 1}
    want |= {f"b-{i:04d}" for i in range(100, 140) if i % 2 == 1}
    assert set(by_arch) == want
    assert {by_arch[d] for d in by_arch} == {"a", "b"}
    # schema drift: archive b lacks n -> null-filled
    assert "n" in got.columns

    # tag pruning restricts to one archive
    got_a = search_json_archives(spark, catalog, 'msg: "*failed*"',
                                 tags=["a"])
    assert {r["archive_id"] for r in got_a.collect()} == {"a"}
    # ts pruning: archive a spans 07:xx only
    got_ts = search_json_archives(spark, catalog, "msg: *",
                                  tle=e_a["e"])
    assert {r["archive_id"] for r in got_ts.collect()} == {"a"}
    # nothing survives pruning
    assert search_json_archives(spark, catalog, "msg: *",
                                tags=["zzz"]) is None


def test_catalog_kql_drift_and_row_ts_filter(spark, tmp_path_factory):
    """A filter on a column one archive lacks must not abort the search
    (clp_s: absent column never matches), and tge/tle must filter ROWS of
    partially-overlapping archives, not just prune whole archives."""
    from clpspark.catalog import register_archive, search_json_archives
    from clpspark.operators.json_encode import write_json_archive

    base = tmp_path_factory.mktemp("jdrift")
    catalog = str(base / "catalog")
    # archive a has n; archive b does not
    for name, with_n in (("a", True), ("b", False)):
        rows = []
        for i in range(10):
            r = (f"{name}{i}", f"2016-05-08 12:00:{i:02d}.000", f"m {i} x")
            rows.append(r + ((i,) if with_n else ()))
        schema = "doc_id string, t string, msg string"
        if with_n:
            schema += ", n long"
        df = spark.createDataFrame(rows, schema)
        arch = write_json_archive(df, str(base / name), ts_leaf="t")
        eps = arch.records.agg(F.min("t.epoch").alias("b"),
                               F.max("t.epoch").alias("e")).first()
        register_archive(spark, catalog, archive_id=name,
                         path=str(base / name), begin_ts=eps["b"],
                         end_ts=eps["e"], n_rows=10, tags=["d"])
        if name == "a":
            b0, e0 = eps["b"], eps["e"]

    # drift: 'n > 6' matches only archive a's rows, b contributes nothing
    got = search_json_archives(spark, catalog, "n > 6")
    assert {r["doc_id"] for r in got.collect()} == {"a7", "a8", "a9"}
    # drift under NOT: absent column never matches, even negated
    got2 = search_json_archives(spark, catalog, "NOT n > 6")
    assert {r["doc_id"] for r in got2.collect()} == {
        f"a{i}" for i in range(7)
    }

    # row-level ts filter: both archives span the same window; a tge in
    # the middle must drop the early ROWS of both, not whole archives
    mid = b0 + 5000  # second 5 of the 10-second span
    got3 = search_json_archives(spark, catalog, "msg: *", tge=mid)
    assert {r["doc_id"] for r in got3.collect()} == {
        f"{n}{i}" for n in ("a", "b") for i in range(5, 10)
    }


def test_archive_handle_cache_and_rewrite(spark, tmp_path_factory):
    from clpspark.operators.json_encode import JsonArchive, write_json_archive

    out = str(tmp_path_factory.mktemp("hc") / "arch")
    df1 = spark.createDataFrame(
        [(f"d{i}", f"t{i % 2}") for i in range(10)],
        "doc_id string, tag string",
    )
    write_json_archive(df1, out)
    a1 = JsonArchive.open(spark, out)
    a2 = JsonArchive.open(spark, out)
    assert a1 is a2
    assert a1.leaf_names() == {"tag"}
    assert a1.grep_leaf("tag", "t1").count() == 5
    # rewrite with different content: the SAME handle must see fresh state
    df2 = spark.createDataFrame(
        [(f"d{i}", f"s{i % 5}", f"note {i} here") for i in range(20)],
        "doc_id string, tag string, note string",
    )
    write_json_archive(df2, out)
    assert a1.leaf_names() == {"tag", "note"}
    assert a1.grep_leaf("tag", "s4").count() == 4


def test_kql_first_class_projection(spark, tmp_path):
    """JsonArchive.kql(project=[...]) — clp_s search/Projection.cpp parity:
    encoded leaves decode for matching docs only, records paths stay typed,
    DateString leaves project as reconstructed strings, unresolved columns
    silently project nothing, wildcards/duplicates raise."""
    import pytest

    from clpspark.operators.json_encode import JsonArchive, write_json_archive

    df = spark.createDataFrame(
        [
            ("d0", "2024-03-01 10:00:00", "job one done", "w1", 7,
             ["x one", "y one"]),
            ("d1", "2024-03-01 11:00:00", "job two failed", "w2", 9,
             ["x two"]),
            ("d2", "2024-03-01 12:00:00", "job three done", "w1", 11, None),
        ],
        "doc_id string, ts string, msg string, worker string, n long, "
        "arr array<string>",
    )
    out = str(tmp_path / "arch")
    write_json_archive(df, out, ts_leaf="ts")
    arch = JsonArchive.open(spark, out)

    got = arch.kql(
        'msg: "job*"',
        project=["msg", "worker", "n", "ts", "ts.epoch", "nope"],
    )
    assert got.columns == ["doc_id", "msg", "worker", "n", "ts", "ts.epoch"]
    rows = {r["doc_id"]: r for r in got.collect()}
    assert rows["d0"]["msg"] == "job one done"
    assert rows["d1"]["worker"] == "w2"
    assert rows["d2"]["n"] == 11
    assert rows["d0"]["ts"] == "2024-03-01 10:00:00"  # reconstructed string
    assert rows["d1"]["ts.epoch"] == 1709290800000
    # serialized (UnstructuredArray) mode: array projects as its JSON text
    arr = arch.kql('worker: w1', project=["arr"])
    arrs = {r["doc_id"]: r["arr"] for r in arr.collect()}
    assert arrs["d0"] == '["x one","y one"]'
    assert arrs["d2"] is None  # null array never melted
    with pytest.raises(ValueError):
        arch.kql('msg: "job*"', project=["m*g"])
    with pytest.raises(ValueError):
        arch.kql('msg: "job*"', project=["msg", "msg"])



def test_kql_projection_structurized_skips_arrays(spark, tmp_path):
    """Structurized-array archives refuse to project array leaves
    (Projection.cpp: resolution never travels into arrays) but scalar
    leaves still project."""
    from clpspark.operators.json_encode import JsonArchive, write_json_archive

    df = spark.createDataFrame(
        [("d0", "top level", ["a one", "b two"])],
        "doc_id string, msg string, arr array<string>",
    )
    out = str(tmp_path / "arch")
    write_json_archive(df, out, structurize_arrays=True)
    arch = JsonArchive.open(spark, out)
    got = arch.kql('msg: "top*"', project=["msg", "arr"])
    assert got.columns == ["doc_id", "msg"]
    assert got.first()["msg"] == "top level"



def test_kql_projection_array_element_leaf_no_fanout(spark, tmp_path):
    """Projecting an element-level structurized leaf ('arr.d.e') must
    silently project nothing — not fan out one row per element (review
    finding r5)."""
    from clpspark.operators.json_encode import JsonArchive, write_json_archive

    df = spark.createDataFrame(
        [("d0", "top one", [{"d": {"e": "x one"}}, {"d": {"e": "y two"}}])],
        "doc_id string, msg string, arr array<struct<d:struct<e:string>>>",
    )
    out = str(tmp_path / "arch")
    write_json_archive(df, out, structurize_arrays=True)
    arch = JsonArchive.open(spark, out)
    got = arch.kql('msg: "top*"', project=["msg", "arr.d.e"])
    assert got.columns == ["doc_id", "msg"]
    assert got.count() == 1  # no per-element fan-out



def test_kql_projection_past_inline_cap(spark, tmp_path):
    """A projected KQL match set larger than the inline-isin gate must
    stay distributed (semi-join path) and still decode every leaf value —
    and the search must not re-execute per consumer."""
    from clpspark.operators import json_encode as JE

    n = 60
    df = spark.createDataFrame(
        [(f"d{i:04d}", f"payload value {i}", i) for i in range(n)],
        "doc_id string, msg string, k long",
    )
    out = str(tmp_path / "arch")
    JE.write_json_archive(df, out)
    arch = JE.JsonArchive.open(spark, out)
    import unittest.mock as mock

    with mock.patch.object(JE, "_PROJECT_INLINE_IDS_MAX", 10):
        got = {r["doc_id"]: (r["msg"], r["k"])
               for r in arch.kql('msg: "payload*"',
                                 project=["msg", "k"]).collect()}
    assert len(got) == n
    assert got["d0007"] == ("payload value 7", 7)

