"""Sources (SURVEY §2.1): scan helpers, the versioned statement archive
(S9/S10) and the HTTP cache table (S8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opensanctions_spark.model.melt import melt_customers, melt_suppliers
from opensanctions_spark.sources import (
    cache_lookup,
    parse_html_table,
    read_csv_source,
    read_pdf_tables,
    strip_xml_namespaces,
)
from opensanctions_spark.sources.archive import StatementArchive, new_version_id


def test_read_csv_source_corrupt_channel(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("a,b\n1,x\nbad-row-with-no-comma\n2,y\n")
    df = read_csv_source(spark, str(p), schema="a INT, b STRING")
    rows = df.collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {(r["a"], r["b"]) for r in good} == {(1, "x"), (2, "y")}
    assert len(bad) == 1 and "bad-row" in bad[0]["_corrupt_record"]


def test_strip_xml_namespaces(spark):
    doc = '<ns:a xmlns:ns="http://x" xmlns="http://y"><ns:b>1</ns:b></ns:a>'
    out = spark.range(1).select(
        strip_xml_namespaces(F.lit(doc)).alias("x")
    ).first()["x"]
    assert out == "<a><b>1</b></a>"


def test_parse_html_table_cells(spark):
    html = "<table><tr><th>H1</th><th>H2</th></tr><tr><td> a </td><td><i>b</i></td></tr></table>"
    df = spark.createDataFrame([(html,)], "html STRING")
    rows = parse_html_table(df, "html").orderBy("row_idx").collect()
    assert rows[0]["cells"] == ["H1", "H2"]
    assert rows[1]["cells"] == ["a", "b"]


def test_pdf_source_reads_real_tables(spark, tmp_path):
    # S7 is implemented since round 2 (sources/pdf.py) — the facade in
    # sources/__init__ must route to it
    from opensanctions_spark.sources.pdf import write_pdf_table

    path = str(tmp_path / "t.pdf")
    write_pdf_table(path, ["id", "name"], [[1, "x"], [2, "y"]])
    df = read_pdf_tables(spark, path)
    assert df.columns == ["id", "name"]
    assert df.count() == 2


def test_archive_versioning_and_backfill(spark, sf_dir, tmp_path):
    arch = StatementArchive(spark, str(tmp_path / "archive"))
    cust = melt_customers(spark.read.parquet(f"{sf_dir}/customer.parquet"))
    supp = melt_suppliers(spark.read.parquet(f"{sf_dir}/supplier.parquet"))

    v1 = arch.write(cust.limit(100), "customers", "20260801-000000")
    v2 = arch.write(cust, "customers", "20260812-000000")
    arch.write(supp, "suppliers", "20260812-000000")

    assert arch.versions("customers") == [v1, v2]
    assert arch.latest("customers") == v2
    # default read = latest version (backfill fallback)
    assert arch.read("customers").count() == cust.count()
    assert arch.read("customers", version=v1).count() == 100
    # collection union (D2)
    both = arch.read_collection(["customers", "suppliers"])
    assert both.count() == cust.count() + supp.count()
    with pytest.raises(FileNotFoundError):
        arch.read("nonexistent")
    with pytest.raises(ValueError):
        arch.write(cust, "customers", "not-a-version")


def test_archive_external_filter_pushdown(spark, sf_dir, tmp_path):
    arch = StatementArchive(spark, str(tmp_path / "archive"))
    cust = melt_customers(spark.read.parquet(f"{sf_dir}/customer.parquet"))
    flagged = cust.withColumn(
        "external", F.col("entity_id").substr(F.lit(3), F.lit(99)).cast("long") % 4 == 0
    )
    arch.write(flagged, "customers", "20260813-000000")
    internal = arch.read("customers")
    assert internal.filter(F.col("external")).count() == 0
    # the external filter must reach the parquet scan (P2 pushdown)
    plan = internal._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "external" in plan


def test_archive_manifest_survives_crash_mid_write(tmp_path, monkeypatch):
    """A crash while versions.json is rewritten leaves the previous
    manifest loadable and unchanged: the rewrite goes to a temp file that
    replaces the manifest only once it is complete."""
    import os

    import opensanctions_spark.sources.archive as archive_mod

    arch = StatementArchive(None, str(tmp_path / "archive"))
    arch._record_version("ds", "20260801-000000")
    arch._record_version("ds", "20260802-000000", success=False)
    before = (arch.versions("ds"), arch.last_successful("ds"))
    assert before == (["20260801-000000", "20260802-000000"], "20260801-000000")

    def torn_dump(obj, fh, **kwargs):
        fh.write('{"versions": ["2026')
        raise OSError("disk full")

    monkeypatch.setattr(archive_mod.json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        arch.mark_successful("ds", "20260802-000000")
    monkeypatch.undo()

    assert (arch.versions("ds"), arch.last_successful("ds")) == before
    assert arch.successful_versions("ds") == ["20260801-000000"]
    # the torn temp file is cleaned up
    assert os.listdir(tmp_path / "archive" / "ds") == ["versions.json"]

def test_cache_lookup_ttl(spark):
    cache = spark.createDataFrame(
        [
            (F.md5(F.lit("http://a")).cast("string"), "resp-a", "2026-08-10"),
        ],
        "url_hash STRING, response STRING, fetched_at STRING",
    ).select(
        F.md5(F.lit("http://a")).alias("url_hash"),
        F.lit("resp-a").alias("response"),
        F.lit("2026-08-10").cast("timestamp").alias("fetched_at"),
    )
    reqs = spark.createDataFrame([("http://a",), ("http://b",)], "url STRING")
    out = cache_lookup(cache, reqs, max_age_days=14, now="2026-08-13 00:00:00")
    rows = {r["url"]: r["response"] for r in out.collect()}
    assert rows == {"http://a": "resp-a", "http://b": None}
    # stale entry misses
    stale = cache_lookup(cache, reqs, max_age_days=1, now="2026-08-13 00:00:00")
    assert {r["url"]: r["response"] for r in stale.collect()} == {
        "http://a": None, "http://b": None,
    }


def test_version_id_sortable():
    assert new_version_id() > "20260101-000000"


def test_parse_html_dom_malformed_and_entities(spark):
    from opensanctions_spark.sources import absolutize_href, parse_html_dom

    html = (
        '<html><title>T &amp; U</title>'
        "<p>outer <a href='x.html'>in<b>ner</b></a> tail"  # unclosed <p>
        '<a href="https://other.org/y">abs</a>'
    )
    df = spark.createDataFrame([(1, html)], "doc_id LONG, html STRING")
    rows = (
        parse_html_dom(df, html_col="html", id_col="doc_id")
        .withColumn("href", absolutize_href(F.col("href"), "https://base.io/"))
        .collect()
    )
    by_tag = {}
    for r in rows:
        by_tag.setdefault(r["tag"], []).append(r)
    # entity decoded
    assert by_tag["title"][0]["text"] == "T & U"
    # nested element text accumulates into the anchor; relative href resolved
    assert by_tag["a"][0]["text"] == "inner"
    assert by_tag["a"][0]["href"] == "https://base.io/x.html"
    # scheme-qualified href passes through
    assert by_tag["a"][1]["href"] == "https://other.org/y"
    # unclosed <p> never closes -> not emitted (event-parser semantics)
    assert "p" not in by_tag


def test_xlsx_roundtrip_stdlib(spark, tmp_path):
    from opensanctions_spark.sources import read_excel_source, write_xlsx

    path = str(tmp_path / "t.xlsx")
    write_xlsx(path, ["id", "name"], [[1, "alpha"], [2, "b<&>c"]])
    rows = read_excel_source(spark, path).orderBy("id").collect()
    assert [(r["id"], r["name"]) for r in rows] == [
        ("1", "alpha"), ("2", "b<&>c"),
    ]


def test_xlsx_carriage_return_and_quote_roundtrip(tmp_path):
    """XML 1.0 end-of-line handling turns a literal CR into LF at parse
    time, so the writer must emit \r as &#13; (the xlsx member of the
    binary-boundary corruption family the round-12 PDF bug exposed);
    quotes must survive attribute position (sheet name, link Target)."""
    from opensanctions_spark.sources import _xlsx_rows_links, write_xlsx

    path = str(tmp_path / "cr.xlsx")
    write_xlsx(
        path,
        ["v"],
        [["line1\rline2"], ["x\r\ny"], ['q"q'], ["amp&lt;"]],
        sheet_name='My "Q" Sheet',
        links={(1, 0): 'http://x/?q="1"&b=2'},
    )
    rows, links = _xlsx_rows_links(path)
    assert rows == [
        ["v"], ["line1\rline2"], ["x\r\ny"], ['q"q'], ["amp&lt;"]
    ]
    assert links == {(1, 0): 'http://x/?q="1"&b=2'}


def test_xlsx_shared_strings_and_sparse_rows(spark, tmp_path):
    # Hand-built workbook exercising the shared-string table, rich-text
    # runs, sparse rows (cell C skips B), and sheet selection by name.
    import zipfile

    path = str(tmp_path / "s.xlsx")
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(
            "xl/workbook.xml",
            f'<workbook {ns} xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="first" sheetId="1" r:id="rId1"/>'
            '<sheet name="second" sheetId="2" r:id="rId2"/></sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Target="worksheets/sheet1.xml"/>'
            '<Relationship Id="rId2" Target="worksheets/sheet2.xml"/></Relationships>',
        )
        zf.writestr(
            "xl/sharedStrings.xml",
            f'<sst {ns}><si><t>hdr_a</t></si>'
            "<si><r><t>ri</t></r><r><t>ch</t></r></si></sst>",
        )
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            f'<worksheet {ns}><sheetData><row r="1"><c r="A1" t="s"><v>0</v></c>'
            '<c r="B1" t="inlineStr"><is><t>hdr_b</t></is></c>'
            '<c r="C1" t="inlineStr"><is><t>hdr_c</t></is></c></row>'
            '<row r="2"><c r="A2" t="s"><v>1</v></c><c r="C2"><v>3.5</v></c></row>'
            "</sheetData></worksheet>",
        )
        zf.writestr(
            "xl/worksheets/sheet2.xml",
            f'<worksheet {ns}><sheetData><row r="1">'
            '<c r="A1" t="inlineStr"><is><t>only</t></is></c></row>'
            '<row r="2"><c r="A2"><v>42</v></c></row></sheetData></worksheet>',
        )

    from opensanctions_spark.sources import read_excel_source

    row = read_excel_source(spark, path).collect()[0]
    assert (row["hdr_a"], row["hdr_b"], row["hdr_c"]) == ("rich", None, "3.5")
    by_name = read_excel_source(spark, path, sheet="second").collect()
    assert [r["only"] for r in by_name] == ["42"]


def test_xlsx_datasource_distributed_scan(spark, tmp_path):
    from opensanctions_spark.sources import write_xlsx
    from opensanctions_spark.sources.xlsx_datasource import XlsxDataSource

    for i in range(3):
        write_xlsx(
            str(tmp_path / f"part{i}.xlsx"),
            ["id", "name"],
            [[i * 10 + j, f"row-{i}-{j}"] for j in range(4)],
        )
    spark.dataSource.register(XlsxDataSource)
    df = spark.read.format("xlsx").load(str(tmp_path / "*.xlsx"))
    # one partition per workbook: the parse runs on executors, in parallel
    assert df.rdd.getNumPartitions() == 3
    rows = df.orderBy(F.col("id").cast("int")).collect()
    assert len(rows) == 12  # per-file header rows dropped
    assert [r["name"] for r in rows[:4]] == [f"row-0-{j}" for j in range(4)]
    assert df.columns == ["id", "name"]

    # directory path and explicit schema both work
    df2 = (
        spark.read.format("xlsx")
        .schema("id string, name string")
        .load(str(tmp_path))
    )
    assert df2.count() == 12


def test_read_json_source_lines_and_multiline(spark, tmp_path):
    """S3: newline-delimited JSON (the distributed default — splittable)
    and multiLine JSON arrays (whole-file, the API-response shape) both
    land with inferred schemas; embedded JSON columns parse JVM-side."""
    import json

    from pyspark.sql import functions as F

    from opensanctions_spark.sources import parse_json_column, read_json_source

    nd = tmp_path / "rows.jsonl"
    nd.write_text(
        "\n".join(json.dumps({"id": i, "name": f"e{i}", "tags": ["a", "b"][: i % 3]})
                  for i in range(5))
    )
    df = read_json_source(spark, str(nd))
    assert df.count() == 5
    assert set(df.columns) == {"id", "name", "tags"}

    ml = tmp_path / "doc.json"
    ml.write_text(json.dumps([{"id": 1, "v": "x"}, {"id": 2, "v": "y"}]))
    df2 = read_json_source(spark, str(ml), multiline=True)
    assert df2.count() == 2

    embedded = spark.createDataFrame(
        [('{"k": "K1", "n": 7}',)], "payload STRING"
    ).select(parse_json_column(F.col("payload"), "k STRING, n LONG").alias("p"))
    row = embedded.select("p.k", "p.n").first()
    assert (row["k"], row["n"]) == ("K1", 7)


def test_archive_gc_prunes_dropped_versions(spark, sf_dir, tmp_path):
    """The manifest keeps a bounded version window; gc deletes the files
    of versions that fell out of it — never the retained ones, never the
    published (last-successful) version."""
    import os

    arch = StatementArchive(spark, str(tmp_path / "archive"))
    cust = melt_customers(spark.read.parquet(f"{sf_dir}/customer.parquet"))
    versions = [f"202608{d:02d}-000000" for d in range(1, 14)]  # 13 > keep=10
    for v in versions:
        arch.write(cust.limit(5), "customers", v)
    # manifest window holds the newest 10; all 13 dirs exist on disk
    assert arch.versions("customers") == versions[-10:]
    ddir = str(tmp_path / "archive" / "customers")
    on_disk = [n for n in os.listdir(ddir) if n.startswith("2026")]
    assert len(on_disk) == 13
    deleted = arch.gc("customers")
    assert deleted == versions[:3]
    on_disk = sorted(n for n in os.listdir(ddir) if n.startswith("2026"))
    assert on_disk == versions[-10:]
    # retained versions still read
    assert arch.read("customers", version=versions[-1]).count() == 5
    # gc is idempotent
    assert arch.gc("customers") == []


def test_read_never_serves_pending_only_dataset(spark, sf_dir, tmp_path):
    """A dataset whose only writes are pending (success=False — e.g. its
    first-ever run aborted on a fatal assertion) must not be readable via
    backfill: falling back to latest() would serve unvalidated data."""
    arch = StatementArchive(spark, str(tmp_path / "archive"))
    cust = melt_customers(spark.read.parquet(f"{sf_dir}/customer.parquet"))
    v = arch.write(cust.limit(5), "customers", "20260801-000000", success=False)
    assert arch.latest("customers") == v
    assert arch.last_successful("customers") is None
    with pytest.raises(FileNotFoundError):
        arch.read("customers")
    # explicit version still readable (debugging a failed run)
    assert arch.read("customers", version=v).count() == 5
    # promotion makes it the backfill target
    arch.mark_successful("customers", v)
    assert arch.read("customers").count() == 5


def test_archive_as_of_time_travel(spark, sf_dir, tmp_path):
    """as_of reads resolve the newest SUCCESSFUL version at or before the
    timestamp — pending versions are invisible, prefixes are inclusive,
    and pre-history timestamps raise."""
    arch = StatementArchive(spark, str(tmp_path / "archive"))
    cust = melt_customers(spark.read.parquet(f"{sf_dir}/customer.parquet"))
    arch.write(cust.limit(10), "customers", "20260801-000000")          # ok
    arch.write(cust.limit(20), "customers", "20260805-000000",
               success=False)                                           # pending
    arch.write(cust.limit(30), "customers", "20260812-000000")          # ok
    assert arch.successful_versions("customers") == [
        "20260801-000000", "20260812-000000",
    ]
    # between the two successful runs: resolves the first, skips pending
    assert arch.read("customers", as_of="20260806-000000").count() == 10
    # bare-date prefix is inclusive of that whole day
    assert arch.read("customers", as_of="20260812").count() == 30
    assert arch.read("customers", as_of="20260801").count() == 10
    with pytest.raises(FileNotFoundError):
        arch.read("customers", as_of="20260731")
    # explicit version always wins over as_of resolution
    assert arch.read(
        "customers", version="20260805-000000", as_of="20260801"
    ).count() == 20


def test_pending_rerecord_revokes_promotion(spark, sf_dir, tmp_path):
    """Re-writing a previously-successful version id as pending must
    revoke its promoted status: the files now hold the failed write's
    data, so neither the history nor the backfill pointer may serve it."""
    arch = StatementArchive(spark, str(tmp_path / "archive"))
    cust = melt_customers(spark.read.parquet(f"{sf_dir}/customer.parquet"))
    arch.write(cust.limit(10), "customers", "20260801-000000")
    arch.write(cust.limit(20), "customers", "20260802-000000")
    assert arch.last_successful("customers") == "20260802-000000"
    # failed retry overwrites the newest version in place
    arch.write(cust.limit(99), "customers", "20260802-000000", success=False)
    assert arch.successful_versions("customers") == ["20260801-000000"]
    assert arch.last_successful("customers") == "20260801-000000"
    assert arch.read("customers").count() == 10


def test_as_of_reaches_gc_protected_version_outside_window(spark, sf_dir, tmp_path):
    """A lone successful run followed by a window's worth of failed
    writes: the successful version falls out of the 10-id manifest
    window, but gc never deletes it and as_of must still resolve it."""
    arch = StatementArchive(spark, str(tmp_path / "archive"))
    cust = melt_customers(spark.read.parquet(f"{sf_dir}/customer.parquet"))
    arch.write(cust.limit(10), "customers", "20260701-000000")
    for d in range(1, 12):
        arch.write(cust.limit(5), "customers", f"202608{d:02d}-000000",
                   success=False)
    assert "20260701-000000" not in arch.versions("customers")
    assert arch.gc("customers").count("20260701-000000") == 0  # protected
    assert arch.resolve_as_of("customers", "20260801") == "20260701-000000"
    assert arch.read("customers", as_of="20260801").count() == 10


def test_has_bucketed_dirs_probe_is_session_free(spark, sf_dir, tmp_path):
    """ADVICE r3: a fresh CLI process has no SparkSession, so `osp gc`
    decides whether to spin one up (to DROP bucketed catalog tables with
    their files) by probing the version dirs on disk — no JVM needed."""
    base = str(tmp_path / "archive")
    cust = melt_customers(spark.read.parquet(f"{sf_dir}/customer.parquet"))

    plain = StatementArchive(spark, base)
    plain.write(cust.limit(5), "plainds", "20260801-000000")
    assert StatementArchive.has_bucketed_dirs(base, "plainds") is False
    assert StatementArchive.has_bucketed_dirs(base, "nosuchds") is False

    bucketed = StatementArchive(spark, base, bucket_statements=True)
    v = bucketed.write(cust.limit(5), "bucketds", "20260801-000000")
    assert StatementArchive.has_bucketed_dirs(base, "bucketds") is True
    # gc with a live session drops the catalog entry alongside the files
    for d in range(2, 13):  # push the first version out of the window
        bucketed.write(cust.limit(5), "bucketds", f"202608{d:02d}-000000")
    deleted = bucketed.gc("bucketds")
    assert v in deleted
    assert not spark.catalog.tableExists(
        bucketed._table_name("bucketds", v)
    )
