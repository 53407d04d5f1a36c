"""The benchmark's inputs are seeded and replayable, and its answer check
reads the server's rendered tables correctly."""

from __future__ import annotations

from collections import Counter

from perfbench import checks, fixture, streams

SIZES = fixture.sizes(0.02)


def test_same_seed_gives_an_identical_stream():
    assert streams.interactive_stream(7, SIZES, 20) == streams.interactive_stream(7, SIZES, 20)
    assert streams.write_stream(7, SIZES, 5) == streams.write_stream(7, SIZES, 5)
    assert streams.upload_order(7, streams.INTERACTIVE_TABLES) == streams.upload_order(
        7, streams.INTERACTIVE_TABLES)


def test_other_seed_changes_literals_but_keeps_the_template_mix():
    a = streams.interactive_stream(1, SIZES, 20)
    b = streams.interactive_stream(2, SIZES, 20)
    assert [s["sql"] for s in a] != [s["sql"] for s in b]
    assert Counter(s["template"] for s in a) == Counter(s["template"] for s in b)
    n = len(streams.INTERACTIVE_BLOCK)
    assert set(streams.INTERACTIVE_BLOCK) == set(streams.INTERACTIVE_TEMPLATES)
    for i in range(0, len(a), n):  # every block holds the same templates
        assert sorted(s["template"] for s in a[i:i + n]) == sorted(streams.INTERACTIVE_BLOCK)
    wa, wb = streams.write_stream(1, SIZES, 5), streams.write_stream(2, SIZES, 5)
    assert [s.get("sql") for s in wa] != [s.get("sql") for s in wb]
    assert Counter(s["kind"] for s in wa) == Counter(s["kind"] for s in wb)


def test_repeats_copy_an_earlier_statement_of_the_same_template():
    stream = streams.interactive_stream(3, SIZES, 40)
    seen: dict[str, set] = {}
    repeats = 0
    for s in stream:
        if s["repeat"]:
            repeats += 1
            assert s["sql"] in seen[s["template"]]
        else:
            seen.setdefault(s["template"], set()).add(s["sql"])
    assert 0.15 < repeats / len(stream) < 0.35


def test_inserted_keys_never_collide():
    keys = []
    for s in streams.write_stream(5, SIZES, 10):
        if s["kind"] == "insert":
            keys += [int(v.split(",")[0]) for v in s["sql"].split("VALUES ")[1][1:-1].split("), (")]
    assert len(keys) == len(set(keys)) and min(keys) >= SIZES["orders"]


def test_rendered_table_round_trips_through_the_parser():
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.functions.format import (
        format_rows,
    )

    rows = [("4-NOT SPECIFIED", 3, 16345650.189999998, None), ("A", 10, -1.5, "x")]
    text = format_rows(["prio", "n", "total", "s"], rows)
    got = checks.parse_rendered(text, 4)
    assert got == [["4-NOT SPECIFIED", "3", "16345650.189999998", "NULL"], ["A", "10", "-1.5", "x"]]
    want = [("A", 10, -1.5, "x"), ("4-NOT SPECIFIED", 3, 16345650.19, None)]
    assert checks.rows_match(got, want, ordered=False)
    assert not checks.rows_match(got, want, ordered=True)
    assert not checks.rows_match(got, [("A", 10, -1.6, "x"), want[1]], ordered=False)
