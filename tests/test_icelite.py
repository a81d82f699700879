"""icelite snapshot semantics: atomic commit, isolation, crash safety."""

import os
import shutil
import tempfile

import pytest

from commentsearchengine_spark.sources.icelite import Catalog


@pytest.fixture
def root():
    d = tempfile.mkdtemp(prefix="icelite-unit-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_commit_and_scan(spark, root):
    cat = Catalog(root).init()
    df = spark.range(10).selectExpr("id", "id * 2 as v")
    cat.stage_write(df, "t")
    sid = cat.commit(wave=0, state={"x": 1})
    assert sid == 1
    got = sorted(tuple(r) for r in cat.scan(spark, "t").collect())
    assert got == [(i, 2 * i) for i in range(10)]
    assert cat.load_snapshot().state == {"x": 1}


def test_staged_but_uncommitted_is_invisible(spark, root):
    cat = Catalog(root).init()
    cat.stage_write(spark.range(5), "t")
    cat.commit(wave=0)
    # stage new data, then "crash" before commit (new Catalog instance)
    cat.stage_write(spark.range(100), "t")
    fresh = Catalog(root)
    assert fresh.current_snapshot_id() == 1
    assert fresh.scan(spark, "t").count() == 5  # old snapshot intact


def test_append_vs_overwrite(spark, root):
    cat = Catalog(root).init()
    cat.stage_write(spark.range(5), "t")
    cat.commit(wave=0)
    cat.stage_write(spark.range(5, 8), "t", mode="append")
    cat.commit(wave=1)
    assert cat.scan(spark, "t").count() == 8
    cat.stage_write(spark.range(2), "t", mode="overwrite")
    cat.commit(wave=2)
    assert cat.scan(spark, "t").count() == 2
    # time travel back
    assert cat.scan(spark, "t", snapshot_id=2).count() == 8


def test_carry_tables(spark, root):
    cat = Catalog(root).init()
    cat.stage_write(spark.range(3), "a")
    cat.stage_write(spark.range(4), "b")
    cat.commit(wave=0)
    cat.stage_write(spark.range(9), "a")
    cat.commit(wave=1)  # b carried over untouched
    assert cat.scan(spark, "a").count() == 9
    assert cat.scan(spark, "b").count() == 4


def test_manifest_stats_and_file_pruning(spark, root):
    """Footer min/max recorded at write time prune files at scan time
    (the icelite stand-in for Iceberg scan planning, SURVEY.md §4)."""
    cat = Catalog(root).init()
    cat.stage_write(
        spark.range(0, 100).selectExpr("id", "1 as wave"), "t")
    cat.commit(wave=1)
    cat.stage_write(
        spark.range(100, 250).selectExpr("id", "2 as wave"), "t",
        mode="append")
    cat.commit(wave=2)

    all_files = cat.table_files("t")
    assert sum(e["rows"] for e in all_files) == 250
    assert all(e["stats"].get("wave") for e in all_files)

    pruned = cat.table_files("t", where=[("wave", "==", 2)])
    assert 0 < len(pruned) < len(all_files)
    assert all(e["stats"]["wave"] == [2, 2] for e in pruned)

    df = cat.scan(spark, "t", where=[("wave", "==", 2)])
    got = df.filter("wave = 2")  # callers still apply the exact filter
    assert got.count() == 150
    # id-range predicate prunes too (numeric min/max)
    assert cat.table_files("t", where=[("id", "<=", 50)]) != all_files


def test_empty_table_scan_uses_schema(spark, root):
    cat = Catalog(root).init()
    cat.stage_write(spark.range(1), "t")
    cat.commit(wave=0)
    df = cat.scan(spark, "missing", schema_ddl="a int, b string")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["a", "b"]


def test_uri_to_rel_decodes_and_resolves_symlinks(tmp_path):
    """input_file_name() URIs are URL-encoded and (on symlinked roots,
    e.g. /tmp -> /private/tmp) may come back RESOLVED from the JVM;
    uri_to_rel must land on the manifest's root-relative path in every
    combination (encoded or not, symlinked or resolved)."""
    from commentsearchengine_spark.sources.icelite import uri_to_rel

    real = tmp_path / "real root"  # space forces percent-encoding
    (real / "data" / "t").mkdir(parents=True)
    f = real / "data" / "t" / "part-0.parquet"
    f.write_bytes(b"x")
    link = tmp_path / "link"
    link.symlink_to(real, target_is_directory=True)

    expected = os.path.join("data", "t", "part-0.parquet")
    resolved_uri = "file://" + str(f).replace(" ", "%20")
    link_uri = "file://" + str(link / "data" / "t" / "part-0.parquet").replace(
        " ", "%20")
    for uri in (resolved_uri, link_uri, str(f)):
        for root in (str(real), str(link)):
            assert uri_to_rel(uri, root) == expected, (uri, root)
