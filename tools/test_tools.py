#!/usr/bin/env python3
"""Assert-based tests for the measurement tooling (NOT shipped code).

Run directly: python3 tools/test_tools.py   (prints OK on success)
"""
import contextlib, fnmatch, io, os, re, subprocess, sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import crossover_table
import duck_bench
import perf_ab
import scalebench_table

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_crossover_candidates_numeric_order():
    names = ["CROSSOVER_r9.json", "CROSSOVER_r100.json", "CROSSOVER_r14.json",
             "CROSSOVER_r15.json", "PAIRING_r14.json", "CROSSOVER_r1b.json",
             "CROSSOVER_r2.json.bak"]
    got = duck_bench.crossover_candidates(names)
    assert got == ["CROSSOVER_r100.json", "CROSSOVER_r15.json",
                   "CROSSOVER_r14.json", "CROSSOVER_r9.json"], got


def test_crossover_table_renders_newest_round():
    # the default artifact is the newest ROUND, not the last string in
    # sort order (that would be r9, and r18 would beat r100)
    import json, tempfile, unittest.mock as mock
    with tempfile.TemporaryDirectory() as d:
        for r in (9, 18, 100):
            json.dump({"head": f"h{r}", "factors": [1], "queries": {}},
                      open(os.path.join(d, f"CROSSOVER_r{r}.json"), "w"))
        out = io.StringIO()
        with mock.patch.object(crossover_table, "ROOT", d), \
             contextlib.redirect_stdout(out):
            crossover_table.main([])
        header = out.getvalue().splitlines()[0]
        assert "from CROSSOVER_r100.json (head h100)" in header, header


def test_repository_map_accounts_for_tree():
    # every tracked top-level entry and every tracked tools/ file matches
    # a backticked path in README's "Repository map" section
    tracked = subprocess.run(["git", "ls-files"], cwd=ROOT, check=True,
                             capture_output=True, text=True).stdout.splitlines()
    readme = open(os.path.join(ROOT, "README.md")).read()
    m = re.search(r"^## Repository map\n(.*?)(?=^## |\Z)", readme, re.M | re.S)
    assert m, "README.md has no '## Repository map' section"
    globs = [g.rstrip("/") for g in re.findall(r"`([^`\s]+)`", m.group(1))]
    entries = sorted({f.split("/")[0] for f in tracked} |
                     {f for f in tracked if f.startswith("tools/")})
    missing = [e for e in entries
               if not any(fnmatch.fnmatchcase(e, g) for g in globs)]
    assert not missing, f"not in README's Repository map: {missing}"


def test_floor_resident_base_mismatch_skipped(tmp=None):
    # adjudication must ignore artifacts whose base is a different SF dir
    import json, tempfile, unittest.mock as mock
    with tempfile.TemporaryDirectory() as d:
        row = {"x1": {"ratio": 2.2}, "x10": {"ratio": 0.5}}
        json.dump({"base": "/data/sf0.1", "queries": {"q97": row}},
                  open(os.path.join(d, "CROSSOVER_r9.json"), "w"))
        json.dump({"base": "/data/sf0.01", "queries": {"q97": row}},
                  open(os.path.join(d, "CROSSOVER_r14.json"), "w"))
        with mock.patch.object(os, "listdir", return_value=os.listdir(d)), \
             mock.patch.object(duck_bench, "open", create=True,
                               side_effect=lambda p, *a, **k: io.open(
                                   os.path.join(d, os.path.basename(p)), *a, **k)):
            # newest artifact (r14) has the wrong base -> falls through to r9
            out = duck_bench.floor_resident_adjudication(["q97"], "/data/sf0.1")
            assert out["q97"]["artifact"] == "CROSSOVER_r9.json", out
            # no artifact matches this base -> empty
            assert duck_bench.floor_resident_adjudication(["q97"],
                                                          "/data/sf9") == {}


def test_pinned_floors_attached_to_warm_residue():
    # a warm over-2x entry with a PINNED_FLOORS row gets the committed
    # adjudication attached; entries without one don't; the weak set
    # itself is unchanged (the bar is the bar)
    import json, tempfile
    with tempfile.TemporaryDirectory() as d:
        dur = {"q72_hll_merge": 0.3, "q95_other": 0.3, "q01_fast": 1.0}
        cold = {"queries": {k: 0.5 for k in dur}, "env": {"warm": 0}}
        warm = {"queries": {"q72_hll_merge": 0.9, "q95_other": 0.9,
                            "q01_fast": 0.5}, "env": {"warm": 2}}
        paths = []
        for i, b in enumerate((cold, warm)):
            p = os.path.join(d, f"b{i}.json")
            json.dump(b, open(p, "w"))
            paths.append(p)
        out_path = os.path.join(d, "pairing.json")
        duck_bench.write_pairing(dur, paths, out_path, "/data/sf-none", 3)
        got = json.load(open(out_path))["summary"]["warm"]
        assert got["over_2x_nontrivial"] == ["q72_hll_merge", "q95_other"], got
        assert list(got["pinned_floors"]) == ["q72_hll_merge"], got
        assert "300x" in got["pinned_floors"]["q72_hll_merge"]


def test_scalebench_cell_missing_key():
    best = {1: {"vocab_df": 1.0}, 10: {}, 100: {"vocab_df": 3.0}}
    assert scalebench_table.cell(best, "vocab_df", 1) == "1.0s"
    assert scalebench_table.cell(best, "vocab_df", 10) == "—"
    assert scalebench_table.cell(best, ("a", "b"), 100) == "—"
    assert scalebench_table.have(best, "vocab_df", 100)


def test_perf_ab_verdict():
    # 9 wins of 10 with a gap wider than the parent's IQR is a gain
    parent = [10.0, 11.0, 12.0, 10.5, 11.5, 10.0, 12.0, 11.0, 10.5, 11.5]
    change = [8.0, 8.5, 9.0, 8.0, 8.5, 9.0, 8.0, 8.5, 9.0, 12.5]
    v = perf_ab.verdict(parent, change)
    assert (v["wins"], v["pairs"]) == (9, 10), v
    assert v["parent_median"] == 11.0 and v["change_median"] == 8.5, v
    assert v["parent_iqr"] == 1.0 and v["gain"], v
    # 8 of 10 is not enough, however wide the gap
    assert not perf_ab.verdict(parent, change[:8] + [13.0, 13.0])["gain"]
    # fewer than ten pairs is never a gain
    assert not perf_ab.verdict(parent[:9], change[:9])["gain"]
    # a tie counts for neither side
    assert perf_ab.verdict([1.0, 2.0], [1.0, 1.0])["wins"] == 1
    # every pair won, but the gap is inside the parent's own spread
    assert not perf_ab.verdict([10.0, 20.0, 10.0, 20.0], [9.0, 19.0, 9.0, 19.0])["gain"]
    # "higher is better" flips the sign
    assert perf_ab.verdict([1.0] * 10, [2.0] * 10, better="higher")["gain"]
    assert not perf_ab.verdict([1.0] * 10, [2.0] * 10)["gain"]


if __name__ == "__main__":
    test_crossover_candidates_numeric_order()
    test_crossover_table_renders_newest_round()
    test_repository_map_accounts_for_tree()
    test_floor_resident_base_mismatch_skipped()
    test_pinned_floors_attached_to_warm_residue()
    test_scalebench_cell_missing_key()
    test_perf_ab_verdict()
    print("OK")
