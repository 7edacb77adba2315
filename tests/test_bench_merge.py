"""Pins for the background-hunter evidence merges in bench.py.

The driver's BENCH artifact must be able to carry clean scaling /
headline reps found by the quiet-window hunters (tools/scale_hunt.py,
tools/headline_hunt.py) — these tests pin the merge semantics: filter
by (n_docs, cores) / (sf_dir, cpus), dedupe across overlapping state
files, re-apply the clean gate from raw canary samples, label
provenance, and never let a merged rep beat a faster bench-local one.
"""

import json

import bench


def _scale_rec(t, cores, seconds, steal_quiet, n_docs=512_000_000,
               sha="abc1234", nproc=None):
    sample = 0.2 if steal_quiet else 0.9
    return {
        "t": t,
        "sha": sha,
        "nproc": bench._host_nproc() if nproc is None else nproc,
        "cores": cores,
        "n_docs": n_docs,
        "seconds": seconds,
        "docs_per_sec": n_docs / seconds,
        "points_per_sec": 100.0,
        "steal_s": 0.0 if steal_quiet else 5.0,
        "clean": steal_quiet,
        "samples": [sample] * 10,
    }


def _accept_abc(monkeypatch):
    # the sha gate shells out to git; pin it so tests are hermetic —
    # "abc1234" is the current measured code, everything else is stale
    monkeypatch.setattr(
        bench, "_code_current", lambda sha, paths: sha == "abc1234"
    )


def test_seed_from_state_filters_dedupes_and_gates(tmp_path, monkeypatch):
    _accept_abc(monkeypatch)
    p1 = tmp_path / "a.jsonl"
    p2 = tmp_path / "b.jsonl"
    recs = [
        _scale_rec(1.0, 2, 100.0, True),
        _scale_rec(2.0, 8, 30.0, False),
        _scale_rec(3.0, 8, 29.0, True),
        _scale_rec(4.0, 4, 60.0, True),            # wrong cores
        _scale_rec(5.0, 2, 50.0, True, n_docs=1),  # wrong size
    ]
    p1.write_text("\n".join(json.dumps(r) for r in recs[:3]) + "\n")
    # p2 overlaps p1 entirely plus junk lines
    p2.write_text(
        "not json\n" + "\n".join(json.dumps(r) for r in recs) + "\n"
    )

    ps = bench._PairState(2, 8, 512_000_000)
    n = ps.seed_from_state([str(p1), str(p2), "/nonexistent"])
    assert n == 3  # filtered + deduped
    assert ps.next_leg() is None  # both legs have a clean rep
    assert ps.has_clean_pair()

    compact, detail = ps.summary()
    assert compact["hunter_legs"] == 3
    # clean gate re-derived from samples: the dirty 30.0 s rep must not
    # be selected over the clean 29.0 s one
    assert compact["local8"]["seconds"] == 29.0
    assert compact["efficiency_is_lower_bound"] is True
    assert detail["local8"]["sources"] == ["hunter", "hunter"]
    assert detail["local8"]["selected_t"] == 3.0


def test_seed_from_state_dirty_slow_leg_is_not_lower_bound(
    tmp_path, monkeypatch
):
    _accept_abc(monkeypatch)
    p = tmp_path / "s.jsonl"
    recs = [_scale_rec(1.0, 2, 100.0, False), _scale_rec(2.0, 8, 30.0, True)]
    p.write_text("\n".join(json.dumps(r) for r in recs) + "\n")
    ps = bench._PairState(2, 8, 512_000_000)
    assert ps.seed_from_state([str(p)]) == 2
    assert ps.next_leg() == 2  # slow leg still needs a clean rep
    compact, detail = ps.summary()
    assert compact["efficiency_is_lower_bound"] is False
    # direction-safe dirty-pair fallback: a steal-adjusted lower bound
    # is emitted with its basis tagged and the reasoning in the detail
    assert compact["lower_bound_basis"] == "steal_adjusted"
    assert "scaling_efficiency_steal_adjusted_lb" in compact
    assert compact["scaling_efficiency_steal_adjusted_lb"] <= compact[
        "scaling_efficiency"
    ]
    assert "steal-adjusted" in detail["lower_bound_reasoning"]


def _head_rec(t, walls, quiet, sf_dir=None, cpus=None):
    b = 0.2 if quiet else 0.9
    return {
        "t": t,
        "sha": "abc1234",
        "sf_dir": sf_dir if sf_dir is not None else bench.SF_DIR,
        "cpus": cpus if cpus is not None else bench.CPUS,
        "queries": {
            name: {"wall": w, "brackets": [b, b]} for name, w in walls.items()
        },
    }


def test_merge_headline_state(tmp_path, monkeypatch):
    _accept_abc(monkeypatch)
    state = tmp_path / "h.jsonl"
    recs = [
        _head_rec(1.0, {"remove_overlaps": 4.1, "minhash_dedup": 7.2}, True),
        _head_rec(2.0, {"remove_overlaps": 9.9}, False),
        _head_rec(3.0, {"remove_overlaps": 5.0}, True, sf_dir="/elsewhere"),
        _head_rec(1.0, {"remove_overlaps": 4.1}, True),  # dup t
        _head_rec(4.0, {"unknown_query": 1.0}, True),    # no matching query
    ]
    state.write_text("\n".join(json.dumps(r) for r in recs) + "\n")
    monkeypatch.setenv("SPARK_GRAFT_HEADLINE_STATE", str(state))
    # isolate the repo-committed snapshot too (a REAL hunter pass
    # committed as HEADLINE_HUNT.jsonl would otherwise merge here)
    monkeypatch.setattr(bench, "REPO", str(tmp_path))

    all_times = {"remove_overlaps": [9.2], "minhash_dedup": [6.0]}
    all_probes = {"remove_overlaps": [[0.9, 0.9]], "minhash_dedup": [[0.9, 0.9]]}
    sources = {n: [["bench", None, None]] for n in all_times}
    n, n_stale = bench._merge_headline_state(all_times, all_probes, sources)
    assert n == 2 and n_stale == 0  # rec1 and rec2; dup-t/wrong-sf skipped
    assert all_times["remove_overlaps"] == [9.2, 4.1, 9.9]
    assert sources["remove_overlaps"][1][0] == "hunter"
    assert sources["remove_overlaps"][1][2] == "abc1234"
    # min-picker semantics downstream: hunter's clean 4.1 wins over the
    # dirty local 9.2; but a hunter rep can never beat a faster local
    # one — minhash keeps the local 6.0 over the hunter 7.2
    assert min(all_times["remove_overlaps"]) == 4.1
    assert min(all_times["minhash_dedup"]) == 6.0


def test_stale_sha_records_rejected(tmp_path, monkeypatch):
    """ADVICE r5: hunter records from older or dirty-tree code must not
    enter the merge pool — rejected and counted, both merges."""
    _accept_abc(monkeypatch)
    # scale: stale, dirty, and missing shas all rejected
    p = tmp_path / "s.jsonl"
    recs = [
        _scale_rec(1.0, 2, 100.0, True),                    # current
        _scale_rec(2.0, 2, 50.0, True, sha="oldsha1"),      # stale
        _scale_rec(3.0, 8, 10.0, True, sha="abc1234+dirty"),
        _scale_rec(4.0, 8, 30.0, True),
    ]
    recs[3].pop("sha")  # legacy record predating sha stamping
    p.write_text("\n".join(json.dumps(r) for r in recs) + "\n")
    ps = bench._PairState(2, 8, 512_000_000)
    assert ps.seed_from_state([str(p)]) == 1
    assert ps.rejected_stale == 3
    assert not ps.runs[8]  # the flattering stale fast legs never landed

    # headline: the stale 1.0s wall must not beat the local 9.2
    h = tmp_path / "h.jsonl"
    hrecs = [
        _head_rec(1.0, {"remove_overlaps": 4.1}, True),
        {**_head_rec(2.0, {"remove_overlaps": 1.0}, True), "sha": "oldsha1"},
    ]
    h.write_text("\n".join(json.dumps(r) for r in hrecs) + "\n")
    monkeypatch.setenv("SPARK_GRAFT_HEADLINE_STATE", str(h))
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    all_times = {"remove_overlaps": [9.2]}
    all_probes = {"remove_overlaps": [[0.9, 0.9]]}
    sources = {"remove_overlaps": [["bench", None, None]]}
    n, n_stale = bench._merge_headline_state(all_times, all_probes, sources)
    assert n == 1 and n_stale == 1
    assert min(all_times["remove_overlaps"]) == 4.1


def test_other_host_scale_records_rejected(tmp_path, monkeypatch):
    """Legs measured on a host of another width (or before hunters
    recorded nproc) never seed this host's pair — rejected and counted."""
    _accept_abc(monkeypatch)
    monkeypatch.setattr(bench, "_host_nproc", lambda: 4)
    p = tmp_path / "s.jsonl"
    recs = [
        _scale_rec(1.0, 2, 100.0, True, nproc=4),
        _scale_rec(2.0, 8, 30.0, True, nproc=32),  # wider host
        _scale_rec(3.0, 8, 31.0, True, nproc=4),
        _scale_rec(4.0, 8, 20.0, True),
    ]
    recs[3].pop("nproc")  # legacy record predating nproc stamping
    p.write_text("\n".join(json.dumps(r) for r in recs) + "\n")
    ps = bench._PairState(2, 8, 512_000_000)
    assert ps.seed_from_state([str(p)]) == 2
    assert ps.rejected_stale == 2
    assert [r["seconds"] for r in ps.runs[8]] == [31.0]
