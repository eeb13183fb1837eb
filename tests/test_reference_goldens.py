"""GOLDEN parity against the reference's OWN fixture files
(/root/reference/geodiff/tests/testdata): GPKG databases read through
stdlib sqlite3, expected binary changesets decoded by our wire reader.

  * diff(base.gpkg, X.gpkg) == the reference's golden base-X.diff,
    entry for entry (ops, values, definedness masks) — the fixture
    families the reference's own CI replays (test_single_commit.cpp,
    test_concurrent_commits.cpp);
  * apply(base, golden diff) == the modified GPKG's table state;
  * rebase(ours=caseNa.diff, theirs=caseNb.diff) == caseNa-rebased.diff
    plus the golden .conflicts JSON (test_rebase_conflict cases 1-4);
  * concat(foo-1, foo-2) == foo-result (test_concat_changesets goldens).
"""

from __future__ import annotations

import json
import os
import sqlite3

import pytest
from pyspark.sql import types as T

from geodiff_spark.changeset import ChangesetTable, TableInfo
from geodiff_spark.functions.json_export import conflicts_json
from geodiff_spark.operators.apply import apply_or_raise
from geodiff_spark.operators.concat import concat_tables
from geodiff_spark.operators.diff import diff_table
from geodiff_spark.operators.rebase import rebase_table
from geodiff_spark.sources.changeset_io import read_changeset_file

TD = "/root/reference/geodiff/tests/testdata"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(TD),
    reason=f"reference geodiff fixture directory {TD} is not present",
)

_GEOM = (
    "POINT", "LINESTRING", "POLYGON", "GEOMETRY", "MULTIPOINT",
    "MULTILINESTRING", "MULTIPOLYGON", "CURVE", "SURFACE",
)


def _spark_type(decl: str) -> T.DataType:
    """SQLite decltype -> Spark type, geometry-aware (check geometry
    names BEFORE the INT-affinity substring rule: 'POINT' contains
    'INT' — the classic affinity trap; sqlite affinity rules per
    https://sqlite.org/datatype3.html, geometry set per GPKG spec)."""
    d = (decl or "").upper()
    if any(g in d for g in _GEOM) or "BLOB" in d or d == "":
        return T.BinaryType()
    if "INT" in d or "BOOL" in d:  # reference: boolean -> int base type
        return T.LongType()
    if any(k in d for k in ("REAL", "DOUB", "FLOA")):
        return T.DoubleType()
    if any(k in d for k in ("TEXT", "CHAR", "DATE", "CLOB")):
        return T.StringType()
    return T.BinaryType()


def load_gpkg(path: str):
    """-> (infos, spark schemas, rows) for every PK-having table."""
    con = sqlite3.connect(path)
    infos, schemas, rows = {}, {}, {}
    for (name,) in con.execute(
        "SELECT name FROM sqlite_master WHERE type='table' ORDER BY name"
    ):
        cols = list(con.execute(f'PRAGMA table_info("{name}")'))
        pk = tuple(
            c[1]
            for c in sorted([c for c in cols if c[5] > 0], key=lambda c: c[5])
        )
        if not pk:
            continue  # the reference skips tables without PKs
        # DATETIME-declared text columns get the reference's datetime
        # false-positive guard (sqlitedriver.cpp:542-561): equivalent
        # instants in different text formats are NOT a change
        ts_cols = tuple(
            c[1] for c in cols if "DATE" in (c[2] or "").upper()
        )
        infos[name] = TableInfo(
            name=name,
            columns=tuple(c[1] for c in cols),
            pk=pk,
            timestamp_cols=ts_cols,
        )
        schemas[name] = [_spark_type(c[2]) for c in cols]
        rows[name] = [tuple(r) for r in con.execute(f'SELECT * FROM "{name}"')]
    con.close()
    return infos, schemas, rows


def mkdf(spark, name, rows_map, infos, schemas):
    fields = [
        T.StructField(c, dt)
        for c, dt in zip(infos[name].columns, schemas[name])
    ]
    return spark.createDataFrame(rows_map[name], T.StructType(fields))


def canon(df):
    return sorted(map(repr, df.select(sorted(df.columns)).collect()))


@pytest.fixture(scope="module")
def base(spark):
    return load_gpkg(f"{TD}/base.gpkg")


# (base db, modified db, golden changeset) — the exact pairs the
# reference's own CI replays (test_driver_sqlite.cpp, test_single_commit)
DIFF_CASES = [
    ("base.gpkg", "2_updates/updated_A.gpkg", "2_updates/base-updated_A.diff"),
    ("base.gpkg", "2_inserts/inserted_1_A.gpkg", "2_inserts/base-inserted_1_A.diff"),
    ("base.gpkg", "2_deletes/deleted_A.gpkg", "2_deletes/base-deleted_A.diff"),
    # geometry blob update (test_driver_sqlite.cpp: apply/create 1_geopackage)
    ("base.gpkg", "1_geopackage/modified_1_geom.gpkg",
     "1_geopackage/base-modified_1_geom.diff"),
    # COMPOSITE primary key (test_composite_pk)
    ("sqlite_pks/multi_primary_key.sqlite",
     "sqlite_pks/multi_primary_key_A.sqlite",
     "sqlite_pks/multi_primary_key_A.diff"),
    ("sqlite_pks/multi_primary_key.sqlite",
     "sqlite_pks/multi_primary_key_B.sqlite",
     "sqlite_pks/multi_primary_key_B.diff"),
    # TEXT primary key (test_text_pk)
    ("sqlite_pks/text_pk.sqlite", "sqlite_pks/text_pk_A.sqlite",
     "sqlite_pks/text_pk_A.diff"),
    # DATETIME values (create_changeset_datetime)
    ("datetime/datetime1.gpkg", "datetime/datetime2.gpkg",
     "datetime/datetime1-2.diff"),
    # UTF-8 table names
    ("utf_test_ščé/testáá.gpkg", "utf_test_ščé/testčč.gpkg",
     "utf_test_ščé/changes.diff"),
    # db with custom triggers (irrelevant to the diff, must not break)
    ("gpkg_triggers/db-base.gpkg", "gpkg_triggers/db-modified.gpkg",
     "gpkg_triggers/modified-changeset.diff"),
]

_IDS = [g.split("/")[-1].removesuffix(".diff") for _, _, g in DIFF_CASES]


@pytest.mark.parametrize("base_db,modified,golden", DIFF_CASES, ids=_IDS)
def test_diff_matches_reference_golden(spark, base_db, modified, golden):
    infos, schemas, base_rows = load_gpkg(f"{TD}/{base_db}")
    _, _, mod_rows = load_gpkg(f"{TD}/{modified}")
    ref = read_changeset_file(spark, f"{TD}/{golden}", infos, schemas)
    assert ref, "golden changeset decoded to zero tables"
    for name, ref_cs in ref.items():
        ours = diff_table(
            mkdf(spark, name, base_rows, infos, schemas),
            mkdf(spark, name, mod_rows, infos, schemas),
            infos[name],
        )
        assert canon(ours.df) == canon(ref_cs.df), f"{golden}/{name}"


@pytest.mark.parametrize("base_db,modified,golden", DIFF_CASES, ids=_IDS)
def test_apply_reference_golden_lands_on_modified(
    spark, base_db, modified, golden
):
    infos, schemas, base_rows = load_gpkg(f"{TD}/{base_db}")
    _, _, mod_rows = load_gpkg(f"{TD}/{modified}")
    ref = read_changeset_file(spark, f"{TD}/{golden}", infos, schemas)
    from pyspark.sql import functions as F

    for name, ref_cs in ref.items():
        target = mkdf(spark, name, base_rows, infos, schemas)
        got = apply_or_raise(target, ref_cs)
        want = mkdf(spark, name, mod_rows, infos, schemas)

        def norm(df, info=infos[name]):
            # datetime-equivalent states in different text formats are
            # the SAME state (a guarded update never rewrites them) —
            # normalize like the reference's equals() comparison
            return df.select(
                *[
                    F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSS").alias(c)
                    if c in info.timestamp_cols
                    else F.col(c)
                    for c in info.columns
                ]
            )

        assert canon(norm(got)) == canon(norm(want)), f"{golden}/{name}"


REBASE_CASES = [
    ("case1", False), ("case2", False), ("case3", True), ("case4", True)
]


@pytest.mark.parametrize("case,has_conflicts", REBASE_CASES)
def test_rebase_matches_reference_golden(spark, base, case, has_conflicts):
    """test_rebase_conflict (test_concurrent_commits.cpp:588-659):
    rebase ours=caseNa.diff over theirs=caseNb.diff must equal the
    golden caseNa-rebased.diff; conflict JSON must match .conflicts."""
    infos, schemas, _ = base
    rd = f"{TD}/rebase_conflict"
    ours = read_changeset_file(spark, f"{rd}/{case}a.diff", infos, schemas)
    theirs = read_changeset_file(spark, f"{rd}/{case}b.diff", infos, schemas)
    golden = read_changeset_file(
        spark, f"{rd}/{case}a-rebased.diff", infos, schemas
    )
    assert set(ours) == {"simple"}
    rebased, conflicts = rebase_table(ours["simple"], theirs.get("simple"))

    if case == "case2":  # same-value edits cancel -> empty changeset
        assert rebased.df.count() == 0
        assert golden == {} or golden["simple"].df.count() == 0
    else:
        assert canon(rebased.df) == canon(golden["simple"].df), case

    if has_conflicts:
        got = json.loads(
            conflicts_json({"simple": conflicts}, {"simple": infos["simple"]})
        )
        want = json.loads(open(f"{rd}/{case}a-rebased.conflicts").read())
        assert got == want, case
    else:
        assert conflicts.count() == 0


def test_concat_matches_reference_golden(spark):
    """test_concat_changesets_simple_table golden: concat(insert, update)
    == the reference's foo-insert-update-result.diff."""
    foo = TableInfo(name="foo", columns=("fid", "name", "rating"), pk=("fid",))
    infos = {"foo": foo}
    schemas = {"foo": [T.LongType(), T.StringType(), T.LongType()]}
    cd = f"{TD}/concat"
    a = read_changeset_file(spark, f"{cd}/foo-insert-update-1.diff", infos, schemas)
    b = read_changeset_file(spark, f"{cd}/foo-insert-update-2.diff", infos, schemas)
    want = read_changeset_file(
        spark, f"{cd}/foo-insert-update-result.diff", infos, schemas
    )
    got = concat_tables([a["foo"], b["foo"]])
    assert canon(got.df) == canon(want["foo"].df)


def test_json_export_matches_reference_golden(spark):
    """Our JSON formatter reproduces the reference's golden exports for
    2_updates (entry JSON incl. base64 geometry blobs, and summary)."""
    from geodiff_spark.functions.json_export import changeset_json, summary_json

    infos, schemas, _ = load_gpkg(f"{TD}/base.gpkg")
    ref = read_changeset_file(
        spark, f"{TD}/2_updates/base-updated_A.diff", infos, schemas
    )
    got = json.loads(changeset_json(ref))
    want = json.loads(open(f"{TD}/2_updates/base-updated_A.json").read())
    assert got == want

    got_s = json.loads(summary_json(ref))
    want_s = json.loads(
        open(f"{TD}/2_updates/base-updated_A-summary.json").read()
    )
    assert got_s == want_s


# ---------------------------------------------------------------------------
# full rebase pipeline vs golden MERGED gpkg states
# (_test in test_concurrent_commits.cpp:14-120 — A = theirs, B = ours,
# final = B rebased on top of A applied over A's state)
# ---------------------------------------------------------------------------

def _layer_tables(loaded):
    """The reference diffs ONLY layer tables: gpkg_*, rtree_* and
    sqlite_sequence are skipped (sqlitedriver.cpp:225-233)."""
    infos, schemas, rows = loaded
    keep = {
        n for n in infos
        if not n.startswith(("gpkg_", "rtree_")) and n != "sqlite_sequence"
    }
    return (
        {n: infos[n] for n in keep},
        {n: schemas[n] for n in keep},
        {n: rows[n] for n in keep},
    )


REBASE_PIPELINE_CASES = [
    # (family, A=theirs, B=ours, expected merged state, expected conflicts)
    ("2_inserts", "inserted_1_A.gpkg", "inserted_1_B.gpkg",
     "merged_1_A_1_B.gpkg", 0),
    ("2_updates", "updated_A.gpkg", "updated_B.gpkg",
     "merged_1_A_1_B.gpkg", 1),
    ("2_deletes", "deleted_A.gpkg", "deleted_B.gpkg", "merged_A_B.gpkg", 0),
    ("delete_update", "deleted_A.gpkg", "updated_B.gpkg", "deleted_A.gpkg", 1),
    ("update_delete", "updated_A.gpkg", "deleted_B.gpkg", "deleted_B.gpkg", 0),
    # issue #62: concurrent inserts — B's 4,5,6 remap to 6,7,8 incl. the
    # CASCADE (B's untouched 6 collides with the freshly allocated 6)
    ("insert_multiple", "a_4_5.gpkg", "b_4_5_6.gpkg", "ab_rebased.gpkg", 0),
    ("insert_multiple", "a_4_5.gpkg", "c_4_5_6_7_8.gpkg", "ac_rebased.gpkg", 0),
]

_RIDS = [f"{fam}-{exp.removesuffix('.gpkg')}"
         for fam, _, _, exp, _ in REBASE_PIPELINE_CASES]


@pytest.mark.parametrize(
    "family,theirs_db,ours_db,expected_db,n_conf",
    REBASE_PIPELINE_CASES,
    ids=_RIDS,
)
def test_rebase_pipeline_matches_reference_merged_state(
    spark, family, theirs_db, ours_db, expected_db, n_conf
):
    from geodiff_spark.api import Dataset, rebase
    from geodiff_spark.plans.cache import cache_scope

    infos, schemas, base_rows = _layer_tables(load_gpkg(f"{TD}/base.gpkg"))
    _, _, their_rows = _layer_tables(load_gpkg(f"{TD}/{family}/{theirs_db}"))
    _, _, our_rows = _layer_tables(load_gpkg(f"{TD}/{family}/{ours_db}"))
    _, _, exp_rows = _layer_tables(load_gpkg(f"{TD}/{family}/{expected_db}"))

    def ds(rows_map):
        return Dataset(
            tables={n: mkdf(spark, n, rows_map, infos, schemas) for n in infos},
            infos=dict(infos),
        )

    with cache_scope():
        final, conflicts = rebase(ds(base_rows), ds(their_rows), ds(our_rows))
        got_conf = sum(df.count() for df in conflicts.values())
        for name in infos:
            got = canon(final.tables[name])
            want = canon(mkdf(spark, name, exp_rows, infos, schemas))
            assert got == want, f"{family}/{name}"
    assert got_conf == n_conf, family


def test_complex_diff_json_matches_reference_golden(spark):
    """test_complex_geopackage (pygeodiff/tests/test_single_commit.py:82):
    diff(base, complex1) exported as JSON equals the reference's golden
    complex1.json (entry multiset — inserts/updates/deletes with nulls,
    base64 geometries, int/real/text values)."""
    from geodiff_spark.functions.json_export import changeset_json

    infos, schemas, base_rows = load_gpkg(f"{TD}/base.gpkg")
    _, _, mod_rows = load_gpkg(f"{TD}/complex/complex1.gpkg")
    name = "simple"
    cs = diff_table(
        mkdf(spark, name, base_rows, infos, schemas),
        mkdf(spark, name, mod_rows, infos, schemas),
        infos[name],
    )
    got = json.loads(changeset_json({name: cs}))
    want = json.loads(open(f"{TD}/complex/complex1.json").read())
    assert len(got["geodiff"]) == 6  # the reference's expected_changes
    key = lambda e: json.dumps(e, sort_keys=True)
    assert sorted(got["geodiff"], key=key) == sorted(want["geodiff"], key=key)


def test_skip_tables_matches_reference_scenario(spark):
    """test_skip_create (test_skip_tables.cpp:10-43): diffing base vs
    modified_all while skipping 'lines' yields exactly the points
    changes (4 entries), and applying them lands on modified_points'
    layer state."""
    from geodiff_spark.api import Dataset, create_changeset
    from geodiff_spark.operators.apply import apply_changeset

    sd = f"{TD}/skip_tables"
    infos, schemas, base_rows = _layer_tables(load_gpkg(f"{sd}/base.gpkg"))
    _, _, all_rows = _layer_tables(load_gpkg(f"{sd}/modified_all.gpkg"))
    _, _, pts_rows = _layer_tables(load_gpkg(f"{sd}/modified_points.gpkg"))
    assert "lines" in infos and "points" in infos

    def ds(rows_map, **kw):
        return Dataset(
            tables={n: mkdf(spark, n, rows_map, infos, schemas) for n in infos},
            infos=dict(infos),
            **kw,
        )

    cs = create_changeset(
        ds(base_rows, skip_tables=("lines",)),
        ds(all_rows, skip_tables=("lines",)),
    )
    assert set(cs) == {"points"}
    assert cs["points"].df.count() == 4  # reference's changesCount

    patched = apply_changeset(
        {n: mkdf(spark, n, base_rows, infos, schemas) for n in infos}, cs
    )
    assert canon(patched["points"]) == canon(
        mkdf(spark, "points", pts_rows, infos, schemas)
    )
    # untouched layer stays at base state (skip semantics)
    assert canon(patched["lines"]) == canon(
        mkdf(spark, "lines", base_rows, infos, schemas)
    )


def test_capital_letters_roundtrip(spark):
    """capital-letters fixtures: mixed-case table/column names survive
    diff -> wire -> decode -> apply round trip."""
    from geodiff_spark.sources.changeset_io import (
        read_changeset_file,
        write_changeset_file,
    )

    cd = f"{TD}/capital-letters"
    infos, schemas, base_rows = _layer_tables(load_gpkg(f"{cd}/db-capital-base.gpkg"))
    _, _, mod_rows = _layer_tables(load_gpkg(f"{cd}/db-capital-modified.gpkg"))
    assert infos, "no layer tables found"
    import tempfile

    for name in infos:
        a = mkdf(spark, name, base_rows, infos, schemas)
        b = mkdf(spark, name, mod_rows, infos, schemas)
        cs = diff_table(a, b, infos[name])
        if cs.df.isEmpty():
            continue
        with tempfile.NamedTemporaryFile(suffix=".diff") as f:
            write_changeset_file({name: cs}, f.name)
            back = read_changeset_file(spark, f.name, infos, schemas)[name]
        assert canon(back.df) == canon(cs.df)
        assert canon(apply_or_raise(a, back)) == canon(b)
