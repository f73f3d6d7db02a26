"""tools/scaling.py: level chain, fixed/slope split, pair efficiency and
the BASELINE.md section replacement, on fixed numbers (no Spark)."""

from tools import scaling


def test_levels_divide_nproc_by_four():
    assert scaling.levels(32) == (2, 8, 32)
    assert scaling.levels(4) == (1, 4)
    assert scaling.levels(1) == (1,)


def test_decompose_and_pair_math():
    # T(n) = 1.0 + 0.04·n at local[1], 0.75 + 0.0125·n at local[4]
    lo = scaling.decompose(1, 5.0, 17.0, 100, 400)
    hi = scaling.decompose(4, 2.0, 5.75, 100, 400)
    assert lo == {"cores": 1, "rows_1x": 100, "rows_4x": 400,
                  "t_1x": 5.0, "t_4x": 17.0, "fixed_sec": 1.0,
                  "slope_rows_per_sec": 25.0, "rows_per_sec": 23.5}
    assert (hi["fixed_sec"], hi["slope_rows_per_sec"]) == (0.75, 80.0)
    assert scaling.pair(lo, hi) == {
        "cores": [1, 4], "speedup": 2.957, "efficiency": 0.739,
        "slope_efficiency": 0.8}
    # a 4× pass no slower than the 1× pass has no slope to compare
    flat = scaling.decompose(4, 3.0, 3.0, 100, 400)
    assert flat["slope_rows_per_sec"] is None
    assert scaling.pair(lo, flat)["slope_efficiency"] is None


def _report(name, t_4x):
    rows = [scaling.decompose(1, 5.0, 17.0, 100, 400),
            scaling.decompose(4, 2.0, t_4x, 100, 400)]
    return {"pipeline": name, "unit": "pages", "rounds": 3, "reps": 2,
            "shuffle_partitions": 64, "levels": rows,
            "pairs": [scaling.pair(*rows)], "cpu_calib_ms": 20.0,
            "cpu_calib_ms_after": 21.0}


def test_section_is_replaced_not_stacked(tmp_path):
    md = tmp_path / "BASELINE.md"
    md.write_text("# title\n\nintro\n\n## Other section\n\nkeep me\n")
    scaling.write_section(_report("warc", 5.75), str(md))
    scaling.write_section(_report("tier", 5.75), str(md))
    once = md.read_text()
    scaling.write_section(_report("warc", 5.75), str(md))
    assert md.read_text() == once
    scaling.write_section(_report("warc", 6.5), str(md))
    text = md.read_text()
    for name in ("warc", "tier"):
        marker = f"## {scaling.PIPELINES[name].title}\n"
        assert text.count(marker) == 1
    assert "| 6.5 |" in text and "| 5.75 |" in text   # tier kept its row
    assert text.startswith("# title\n\nintro\n\n## Other section\n\nkeep me")
    # a missing file starts from the header
    fresh = tmp_path / "new.md"
    scaling.write_section(_report("extract", 5.75), str(fresh))
    assert fresh.read_text().startswith(scaling.HEADER)
