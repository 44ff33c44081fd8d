"""Gate fixtures in queries.py: one memoized full-corpus base store per sf,
copied before any mutation, under one per-process root removed at exit."""

import os
import subprocess
import sys
import textwrap

from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_gate_root_removed_at_exit(tmp_path):
    """A process that asked for a gate dir leaves nothing behind when it
    exits: the gate root is removed at interpreter exit (no Spark)."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from ariadna_spark import queries
        d = queries._gate_dir("probe_")
        open(d + "/marker", "w").write("x")
        print(d)
        """
    )
    done = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, capture_output=True, text=True, timeout=120
    )
    assert done.returncode == 0, done.stderr
    path = done.stdout.strip().splitlines()[-1]
    assert os.path.isabs(path), done.stdout
    assert not os.path.exists(path)
    assert not os.path.exists(os.path.dirname(path))


def test_one_base_build_per_sf(spark, tmp_path, monkeypatch):
    """The gate's read-only and copy-then-mutate fixtures share ONE
    full-corpus build_index per sf, and mutating a copy leaves the base
    store's live set untouched."""
    from ariadna_spark import queries as Q
    from ariadna_spark.corpus import load_docs
    from ariadna_spark.sources import segments

    monkeypatch.setattr(Q, "_GATE", {})
    monkeypatch.setattr(Q, "_GATE_ROOT", str(tmp_path))
    rows_per_build = []
    orig = segments.build_index

    def counting(spark_, docs, *a, **kw):
        rows_per_build.append(docs.count())
        return orig(spark_, docs, *a, **kw)

    monkeypatch.setattr(segments, "build_index", counting)

    for name in ("wand_topk", "regex_search", "snapshot_restore", "alias_rotation"):
        assert Q.QUERIES[name](spark, SF_DIR).collect(), name

    n_docs = load_docs(spark, SF_DIR).count()
    assert rows_per_build.count(n_docs) == 1, rows_per_build
    # alias rotation's v2 store indexes the even-doc_id half
    assert len(rows_per_build) == 2 and min(rows_per_build) < n_docs, rows_per_build
    base = Q._GATE[("base", SF_DIR)]
    assert base.startswith(str(tmp_path))
    assert segments.SegmentStore(base).live_builds() == ["base"]
