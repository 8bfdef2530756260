"""S1 (dump download) + S7 (SPARQL place-type source) — offline tests.

S1 runs against file:// fixture trees (urllib serves those without any
network); S7 injects a canned-JSON transport. Together they close the two
SURVEY §2 rows previously marked N/A-by-design: the *logic* the reference's
bash gives those stages (skip/retry/md5/empty-fail; sites-filter/sort/uniq)
is now implemented and pinned here, with only the live endpoints stubbed.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os

import pytest

from wikipedia_wikidata_spark.sources.download import (
    DownloadError,
    download,
    download_verified,
    download_wikipedia_tables,
)
from wikipedia_wikidata_spark.sources.sparql import (
    parse_instances,
    place_dump_rows,
    place_instances_query,
    write_place_dump_csv,
)


def _url(p):
    return "file://" + os.path.abspath(p)


def test_download_basic_and_skip(tmp_path):
    src = tmp_path / "src.bin"
    src.write_bytes(b"hello dump")
    out = tmp_path / "landed" / "src.bin"
    assert download(_url(src), str(out)) == str(out)
    assert out.read_bytes() == b"hello dump"
    # skip-if-exists: change the source; the landed copy must win
    src.write_bytes(b"CHANGED")
    download(_url(src), str(out))
    assert out.read_bytes() == b"hello dump"


def test_download_empty_body_is_deleted_and_raises(tmp_path):
    src = tmp_path / "empty.bin"
    src.write_bytes(b"")
    out = tmp_path / "empty.landed"
    with pytest.raises(DownloadError):
        download(_url(src), str(out))
    assert not out.exists()  # never left to poison a skip-if-exists re-run


def test_download_retries_then_fails_on_missing(tmp_path):
    with pytest.raises(DownloadError):
        download(_url(tmp_path / "nope.bin"), str(tmp_path / "out"))


def test_download_resume_discards_stale_part_on_full_body(tmp_path):
    # a .part left by a dead attempt; file:// replays the FULL body (no 206),
    # so the partial must be discarded, not appended to
    src = tmp_path / "s.bin"
    src.write_bytes(b"0123456789")
    out = tmp_path / "s.landed"
    (tmp_path / "s.landed.part").write_bytes(b"012")
    download(_url(src), str(out))
    assert out.read_bytes() == b"0123456789"


def test_download_verified_md5(tmp_path):
    body = b"the dump body"
    src = tmp_path / "d.sql.gz"
    src.write_bytes(body)
    good = hashlib.md5(body).hexdigest()
    md5 = tmp_path / "d.md5src"
    md5.write_text(f"{good}  d.sql.gz\n")  # sidecar format: digest, 2 spaces, name
    out = tmp_path / "landed.sql.gz"
    download_verified(_url(src), str(out), _url(md5))
    assert out.read_bytes() == body

    # corrupt sidecar -> landed file deleted + loud fail
    md5_bad = tmp_path / "bad.md5src"
    md5_bad.write_text("0" * 32 + "  d.sql.gz\n")
    out2 = tmp_path / "landed2.sql.gz"
    with pytest.raises(DownloadError, match="md5 mismatch"):
        download_verified(_url(src), str(out2), _url(md5_bad))
    assert not out2.exists()


def test_download_wikipedia_tables_layout(tmp_path):
    # fixture tree in the reference's URL layout (wikipedia_download.sh:55-59)
    base = tmp_path / "mirror"
    date = "20220620"
    for lang in ("li", "bar"):
        d = base / f"{lang}wiki" / date
        d.mkdir(parents=True)
        for t in ("page.sql.gz", "redirect.sql.gz"):
            fn = f"{lang}wiki-{date}-{t}"
            body = f"{lang}:{t}".encode()
            (d / fn).write_bytes(body)
            (d / f"md5sums-{fn}.txt").write_text(
                f"{hashlib.md5(body).hexdigest()}  {fn}\n"
            )
    out_dir = tmp_path / "downloaded"
    landed = download_wikipedia_tables(
        _url(base), str(out_dir), ["li", "bar"], date,
        tables=("page.sql.gz", "redirect.sql.gz"),
    )
    assert [os.path.relpath(p, out_dir) for p in landed] == [
        "li/page.sql.gz", "li/redirect.sql.gz",
        "bar/page.sql.gz", "bar/redirect.sql.gz",
    ]
    assert (out_dir / "bar" / "page.sql.gz").read_bytes() == b"bar:page.sql.gz"


# ---------------------------------------------------------------- S7 SPARQL

def _sparql_doc(pairs):
    """Canned SPARQL 1.1 JSON results: [(item, sites)] -> document."""
    return {
        "head": {"vars": ["item", "sites"]},
        "results": {
            "bindings": [
                {
                    "item": {
                        "type": "uri",
                        "value": f"http://www.wikidata.org/entity/{q}",
                    },
                    "sites": {"type": "literal", "value": str(s)},
                }
                for q, s in pairs
            ]
        },
    }


CANNED = {
    # ski resort: one subcategory row (sites>0) to drop, unsorted input,
    # one non-Q lexeme row to drop at the final grep
    "Q130003": _sparql_doc(
        [("Q988298", 0), ("Q5136446", 1), ("Q6922586", 0), ("L673595", 0)]
    ),
    # barn: overlaps one item with ski resort (cross-type dup must SURVIVE —
    # uniq is adjacent-only), plus an exact adjacent dup to collapse
    "Q1303167": _sparql_doc([("Q988298", 0), ("Q988298", 0), ("Q42", 0)]),
}


def test_place_instances_query_shape():
    q = place_instances_query("Q130003")
    assert "wd:Q130003" in q and "?sites" in q and "wdt:P31" in q


def test_parse_instances_reduces_iri():
    rows = parse_instances(CANNED["Q130003"])
    assert ("Q988298", 0) in rows and ("Q5136446", 1) in rows


def test_place_dump_rows_filter_sort_uniq():
    rows = place_dump_rows(["Q130003", "Q1303167"], fetch=lambda q: CANNED[
        q.split("wd:")[1].split(" ")[0].rstrip(" .\n")
    ])
    assert rows == [
        # type 1: sites==0 only, sorted, L-row dropped
        ("Q6922586", "Q130003"),
        ("Q988298", "Q130003"),
        # type 2: adjacent dup collapsed; cross-type dup Q988298 kept
        ("Q42", "Q1303167"),
        ("Q988298", "Q1303167"),
    ]


def test_write_place_dump_csv_gz_and_skip(tmp_path):
    out = tmp_path / "wikidata_place_dump.csv.gz"
    rows = [("Q42", "Q1303167"), ("Q988298", "Q130003")]
    write_place_dump_csv(rows, str(out))
    with gzip.open(out, "rt") as f:
        assert f.read() == "Q42,Q1303167\nQ988298,Q130003\n"
    # skip-if-exists guard (:14-17)
    write_place_dump_csv([("Q1", "Q2")], str(out))
    with gzip.open(out, "rt") as f:
        assert f.read().startswith("Q42")


def test_place_dump_df_feeds_importance_shape(spark):
    from wikipedia_wikidata_spark.sources.sparql import place_dump_df

    df = place_dump_df(spark, [("Q42", "Q1303167")])
    assert df.columns == ["item", "instance_of"]
    assert df.count() == 1


def test_sparql_source_substitutes_places_in_importance_join(spark):
    """S7 -> J6 integration: the SPARQL-landed (item, instance_of) rows are
    a drop-in replacement for the synthesized `places` view in
    wikidata_places (plans/importance.py) — same shape, same broadcast
    taxonomy join, deterministic ont_level pick."""
    from pyspark.sql import functions as F

    from wikipedia_wikidata_spark.plans.importance import wikidata_places
    from wikipedia_wikidata_spark.sources.sparql import (
        place_dump_df, place_dump_rows,
    )

    rows = place_dump_rows(["Q130003", "Q1303167"], fetch=lambda q: CANNED[
        q.split("wd:")[1].split(" ")[0].rstrip(" .\n")
    ])
    places = place_dump_df(spark, rows)
    levels = spark.createDataFrame(
        [("Q130003", 3), ("Q1303167", 5)], "place_type string, level int"
    )
    geo_earth = spark.createDataFrame(
        [(1, 52.5, 13.4, "Q988298")],
        "gt_page_id int, gt_lat double, gt_lon double, page_title string",
    )
    out = wikidata_places({"places": places}, levels, geo_earth)
    got = {r["item"]: r for r in out.collect()}
    # Q988298 instances BOTH fetched types; highest ont_level wins (5) and
    # its geo row patches lat/lon
    assert got["Q988298"]["ont_level"] == 5
    assert got["Q988298"]["instance_of"] == "Q1303167"
    assert got["Q988298"]["lat"] == 52.5 and got["Q988298"]["lon"] == 13.4
    assert got["Q42"]["ont_level"] == 5 and got["Q42"]["lat"] is None
    assert got["Q6922586"]["ont_level"] == 3
    assert out.columns == ["item", "instance_of", "ont_level", "lat", "lon"]
