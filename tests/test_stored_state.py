"""Persisted operator-state store (sources.state.StateStore.cached) and
the index maintainers that read their state through it.

Every index maintainer in signed_queries is ONE body taking a
``state`` source; the registry binds it to ``_recompute`` (state built
from the old snapshot each run) for ``*_maintenance`` and to
``_stored`` (state read from a persisted ``StateStore.cached`` table) for
``*_stored``. Correctness is pinned by the shared oracles
(test_oracle_parity); these tests pin the state-store CONTRACT —
build-once, fingerprint invalidation, the plans actually reading the
persisted tables — and that each twin pair is one body whose output
does not depend on its state source."""

from __future__ import annotations

import os
from functools import partial

import pytest

from datafusion_delta_queries_spark.operators.signed_queries import (
    _table_fingerprint,
)
from datafusion_delta_queries_spark.sources.state import (
    CACHE_KEEP,
    StateStore,
    cache_root,
)

from .conftest import SF_SMALL


def _unregistered():
    """signed_winnow_stored is the one stored twin kept OUT of the
    registry — a tested NEGATIVE (slower than its recompute sibling
    at sf0.1; SCALE.md round-16 notes) that must still honor the
    state-store contract audited here."""
    from datafusion_delta_queries_spark.operators.signed_queries import (
        q_signed_winnow_stored,
    )

    return {"signed_winnow_stored": q_signed_winnow_stored}


def test_stored_state_builds_once(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("DFDQ_STORED_STATE_DIR", str(tmp_path))
    calls = []

    def build():
        calls.append(1)
        return spark.range(5).selectExpr("id", "id * 2 AS x")

    a = StateStore.cached(spark, "t1", "fp-A", build)
    assert a.count() == 5
    b = StateStore.cached(spark, "t1", "fp-A", build)
    assert b.count() == 5
    assert len(calls) == 1, "second call must read, not rebuild"
    # the read-back frame scans the persisted parquet
    assert all("dfdq_stored_state" in f for f in b.inputFiles())


def test_stored_state_fingerprint_invalidates(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("DFDQ_STORED_STATE_DIR", str(tmp_path))
    calls = []

    def build():
        calls.append(1)
        return spark.range(3).selectExpr("id")

    StateStore.cached(spark, "t2", "fp-A", build)
    StateStore.cached(spark, "t2", "fp-B", build)
    assert len(calls) == 2, "a new fingerprint must rebuild"


def test_stored_state_recovers_from_crashed_build(spark, tmp_path, monkeypatch):
    """A build that died mid-write leaves only an unswapped staging
    dir — the next call must rebuild cleanly (the committed state dir
    appears only via the staged swap's rename) and remove it."""
    monkeypatch.setenv("DFDQ_STORED_STATE_DIR", str(tmp_path))
    # simulate the crash: a stale staging dir with junk inside
    root = tmp_path / "dfdq_stored_state"
    root.mkdir()
    import hashlib

    key = hashlib.md5(b"t3|fp-A|v1").hexdigest()
    stale = root / f"t3_{key}.__staging__"
    stale.mkdir()
    (stale / "part-junk").write_bytes(b"corrupt")
    df = StateStore.cached(
        spark, "t3", "fp-A", lambda: spark.range(4).selectExpr("id")
    )
    assert df.count() == 4
    assert os.listdir(root) == [f"t3_{key}"], os.listdir(root)


def test_stored_state_prunes_dead_fingerprints(spark, tmp_path, monkeypatch):
    """Fingerprints churn whenever a fixture regenerates; same-name
    dirs for dead keys must prune to the newest CACHE_KEEP, and the
    just-written dir always survives."""
    import os

    monkeypatch.setenv("DFDQ_STORED_STATE_DIR", str(tmp_path))
    for i in range(CACHE_KEEP + 3):
        df = StateStore.cached(
            spark, "t4", f"fp-{i}", lambda: spark.range(2).selectExpr("id")
        )
        assert df.count() == 2
    root = tmp_path / "dfdq_stored_state"
    dirs = [d for d in os.listdir(root) if d.startswith("t4_")]
    assert len(dirs) == CACHE_KEEP
    # the newest key still reads back without a rebuild
    calls = []

    def build():
        calls.append(1)
        return spark.range(2).selectExpr("id")

    StateStore.cached(spark, "t4", f"fp-{CACHE_KEEP + 2}", build)
    assert not calls


def test_stored_state_prune_tolerates_concurrent_delete(
    spark, tmp_path, monkeypatch
):
    """A concurrent run can rmtree a same-name dir between the prune's
    listdir and its getmtime — the tolerant mtime must map the missing
    dir to 0 instead of raising FileNotFoundError (r14 ADVICE item)."""
    import os as _os

    monkeypatch.setenv("DFDQ_STORED_STATE_DIR", str(tmp_path))
    StateStore.cached(spark, "t5", "fp-A", lambda: spark.range(2).selectExpr("id"))
    real_getmtime = _os.path.getmtime

    def racy_getmtime(p):
        if "t5_" in _os.path.basename(p):
            raise FileNotFoundError(p)  # vanished mid-listing
        return real_getmtime(p)

    monkeypatch.setattr(_os.path, "getmtime", racy_getmtime)
    df = StateStore.cached(
        spark, "t5", "fp-B", lambda: spark.range(3).selectExpr("id")
    )
    assert df.count() == 3


def test_default_root_is_repo_local(monkeypatch):
    """Without the env override the root lives under the repo's
    spark-warehouse — never a world-shared tmp path (r14 verdict
    item 5 + ADVICE ownership note)."""
    monkeypatch.delenv("DFDQ_STORED_STATE_DIR", raising=False)
    root = cache_root()
    assert "spark-warehouse" in root
    assert not root.startswith("/tmp")


def test_table_fingerprint_tracks_bytes(tmp_path):
    p = tmp_path / "documents.parquet"
    p.write_bytes(b"aaaa")
    f1 = _table_fingerprint(str(tmp_path), "documents")
    os.utime(p, (1, 1))
    f2 = _table_fingerprint(str(tmp_path), "documents")
    assert f1 != f2, "mtime change must change the fingerprint"


@pytest.mark.parametrize(
    "qname,state_marker",
    [
        ("signed_triangle_stored", "tri_support"),
        ("signed_semdedup_stored", "semdedup_ledger"),
        ("signed_bm25_stored", "bm25_tf"),
        ("signed_dupspan_stored", "dupspan_gp"),
        ("signed_pq_stored", "pq_codes"),
        ("signed_tfidf_stored", "tfidf_df"),
        ("signed_inverted_stored", "inv_postings"),
        ("signed_phrase_stored", "phrase_postings"),
        ("signed_line_dedup_stored", "linededup_presence"),
        ("signed_sessionize_stored", "sessions_tbl"),
        # the r16 tranche (registered r17; winnow is the tested negative)
        ("signed_lsh_stored", "lsh_bands"),
        ("signed_ann_stored", "ann_buckets"),
        ("signed_winnow_stored", "winnow_fps"),
        # the shingle/pair state reads are consumed through the CC
        # loop's localCheckpoint (lineage truncated by design); the
        # old-components read survives into the final plan's leaves
        ("signed_cluster_stored", "cluster_components"),
        ("signed_ivf_stored", "ivf_assign"),
        # the r17 composed twin must scan BOTH persisted halves —
        # the coarse-quantizer assignment and the PQ code table
        ("signed_ivfpq_stored", "ivf_assign"),
        ("signed_ivfpq_stored", "pq_codes"),
    ],
)
def test_stored_variants_read_persisted_state(spark, qname, state_marker):
    """The maintenance plan must SCAN the persisted state table — the
    whole point of the stored variants is that the corpus-sized state
    term is a disk read, not a per-run recompute."""
    from datafusion_delta_queries_spark.operators import registry

    # the repo-local state root makes scan paths longer than the
    # 100-char metadata default truncates at — widen for this audit
    spark.conf.set("spark.sql.maxMetadataStringLength", "500")
    queries, _ = registry()
    queries = {**queries, **_unregistered()}
    root = cache_root()

    def _state_dirs() -> set[str]:
        if not os.path.isdir(root):
            return set()
        return {
            d
            for d in os.listdir(root)
            if d.startswith(state_marker)
            and os.path.exists(os.path.join(root, d, "_SUCCESS"))
        }

    before = _state_dirs()
    df = queries[qname](spark, SF_SMALL)
    # inputFiles does not traverse every plan shape (the triangle
    # result is crossJoined aggregates and reports no leaves), so
    # accept either evidence of the persisted scan: a stored-state
    # leaf in inputFiles, or the state path in the executed plan.
    files = df.inputFiles()
    plan = df._jdf.queryExecution().executedPlan().toString()
    after = _state_dirs()
    # third evidence tier (tightened per the r15 ADVICE item): a
    # matching state dir CREATED DURING THIS CALL proves the run went
    # through the store — valid for every twin (covers cold-state
    # builds). A PRE-EXISTING dir is accepted only for the two plans
    # whose lineage evidence is structurally unavailable on a warm
    # run: line-dedup eagerly localCheckpoints its synopses (parquet
    # lineage erased by design), and the triangle result is
    # crossJoined aggregates (inputFiles reports no leaves) whose
    # state frames, when persisted by an EARLIER test in the session,
    # surface as InMemoryRelations captured at the default 100-char
    # truncation — the state path never reaches this plan string. For
    # every other twin a leftover dir must not mask a regression
    # where the plan stops reading its persisted state.
    built_now = bool(after - before)
    lineage_unavailable = {
        "signed_line_dedup_stored",
        "signed_triangle_stored",
    }
    on_disk = built_now or (
        qname in lineage_unavailable and bool(after)
    )
    assert any(
        "dfdq_stored_state" in f and state_marker in f for f in files
    ) or state_marker in plan or on_disk, (
        qname, "no persisted-state scan in plan", files[:10]
    )


def test_semdedup_stored_repair_is_touched_cells_only(spark):
    """Same confinement audit as the recompute maintainer: equi joins
    only, touched-cell semi join before pairs form, untouched ledger
    rows pass through an anti join."""
    from datafusion_delta_queries_spark.operators.signed_queries import (
        q_signed_semdedup_stored,
    )

    plan = (
        q_signed_semdedup_stored(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


_TWINS = [
    ("signed_pq_stored", "signed_pq_maintenance"),
    ("signed_tfidf_stored", "signed_tfidf_maintenance"),
    ("signed_inverted_stored", "signed_inverted_index_maintenance"),
    ("signed_phrase_stored", "signed_phrase_index_maintenance"),
    ("signed_line_dedup_stored", "signed_line_dedup_maintenance"),
    # the r16 tranche (registered r17; winnow is the tested negative)
    ("signed_lsh_stored", "signed_lsh_maintenance"),
    ("signed_ann_stored", "signed_ann_maintenance"),
    ("signed_winnow_stored", "signed_winnow_maintenance"),
    ("signed_cluster_stored", "signed_cluster_maintenance"),
    ("signed_ivf_stored", "signed_ivf_maintenance"),
    ("signed_semdedup_stored", "signed_semdedup_maintenance"),
    ("signed_bm25_stored", "signed_bm25_maintenance"),
    # same sparse spec on both sides; only the state source differs
    ("signed_triangle_stored", "signed_triangle_sparse"),
]


def test_stored_twins_share_one_body():
    """Each twin pair is ONE maintainer body bound to the two state
    sources and otherwise identical arguments — a twin re-forked into
    its own copy of the algorithm fails here."""
    from datafusion_delta_queries_spark.operators import registry
    from datafusion_delta_queries_spark.operators.signed_queries import (
        _recompute,
        _stored,
    )

    queries, _ = registry()
    queries = {**queries, **_unregistered()}
    for stored_q, recompute_q in _TWINS:
        a, b = queries[stored_q], queries[recompute_q]
        assert isinstance(a, partial) and isinstance(b, partial), stored_q
        assert a.func is b.func, (stored_q, recompute_q)
        ka, kb = dict(a.keywords), dict(b.keywords)
        assert (ka.pop("state"), kb.pop("state")) == (_stored, _recompute)
        assert a.args == b.args and ka == kb, (stored_q, ka, kb)


@pytest.mark.parametrize("stored_q,recompute_q", _TWINS)
def test_stored_twin_equals_recompute_sibling(spark, stored_q, recompute_q):
    """Beyond sharing an oracle: the stored twin's OUTPUT must be
    row-identical to its recompute sibling's — the state source
    (persisted parquet vs old-snapshot recompute) is the only thing
    that may differ."""
    from datafusion_delta_queries_spark.operators import registry

    queries, _ = registry()
    queries = {**queries, **_unregistered()}
    a = queries[stored_q](spark, SF_SMALL)
    b = queries[recompute_q](spark, SF_SMALL)
    cols = sorted(a.columns)
    assert cols == sorted(b.columns)
    ra = sorted(map(tuple, a.select(*cols).collect()))
    rb = sorted(map(tuple, b.select(*cols).collect()))
    assert ra == rb, (stored_q, len(ra), len(rb))


def test_semdedup_sparse_confinement_is_real(spark):
    """The sparse regime's whole point: the CDC batch touches a SMALL
    fraction of the K=64 cells, and the stored ledger's untouched rows
    outnumber the repaired ones — data-level proof the anti-join
    pass-through carries real weight (the dense K=8 spec touches every
    cell, so this property was previously untestable)."""
    from datafusion_delta_queries_spark.functions import similarity
    from datafusion_delta_queries_spark.operators.signed_queries import (
        SIGN,
        SignedDeltaCatalog,
        _SEMDEDUP_SPARSE_K,
        _SPARSE_EMB_SPECS,
        _spec_fingerprint,
    )
    from datafusion_delta_queries_spark.operators.curation import _km_assign
    from datafusion_delta_queries_spark.operators.signed_queries import (
        q_signed_semdedup_sparse,
    )

    from .conftest import SF_MED

    # materialize the sparse state through the REAL query first: on a
    # fresh checkout (spark-warehouse/ is gitignored) or after a
    # fixture regeneration nothing else in the suite builds the sf0.01
    # sparse state, and a bare `lambda: None` build would die on
    # None.write instead of building (r15 ADVICE item)
    q_signed_semdedup_sparse(spark, SF_MED)

    cat = SignedDeltaCatalog(spark, SF_MED, _SPARSE_EMB_SPECS)
    arr = similarity.as_double_array("embedding")
    # mirror the stored source's cache key exactly (the spec's
    # fingerprint; the state names carry k)
    fp = _spec_fingerprint(SF_MED, "embeddings", _SPARSE_EMB_SPECS)
    k = _SEMDEDUP_SPARSE_K
    cents = StateStore.cached(spark, f"semdedup_cents_k{k}", fp, lambda: None)
    sgn = cat.signed_changes("embeddings").selectExpr(
        "vec_id", f"{arr} AS v", SIGN
    )
    touched = (
        _km_assign(sgn.select("vec_id", "v"), cents)
        .select("cell")
        .distinct()
        .count()
    )
    n_cells = cents.count()
    assert touched < n_cells / 2, (touched, n_cells)
    ledger = StateStore.cached(spark, f"semdedup_ledger_k{k}", fp, lambda: None)
    untouched = ledger.count()
    assert untouched > 0


def test_ivfpq_composed_margins_match_parents(spark):
    """The composed IVF-PQ twin's marginals must reproduce its two
    parents exactly: summing its (cell, subspace, code) counts over
    the codes of ONE subspace gives signed_ivf_stored's per-cell
    counts (every live vector carries exactly one code per subspace),
    and summing over cells gives signed_pq_stored's per-(subspace,
    code) counts and id-checksums. A drift in either frozen half, the
    per-image-class encoding, or the composed merge breaks one of
    these identities."""
    from datafusion_delta_queries_spark.operators.signed_queries import (
        q_signed_ivf_stored,
        q_signed_ivfpq_stored,
        q_signed_pq_stored,
    )

    composed = q_signed_ivfpq_stored(spark, SF_SMALL).collect()

    cell_margin: dict[int, int] = {}
    code_margin: dict[tuple[int, int], tuple[int, int]] = {}
    for r in composed:
        if r.subspace == 0:
            cell_margin[r.cell] = cell_margin.get(r.cell, 0) + r.n_vecs
        n, ck = code_margin.get((r.subspace, r.code), (0, 0))
        code_margin[(r.subspace, r.code)] = (
            n + r.n_vecs, ck + r.vec_checksum
        )

    ivf = {
        r.cell: r.n_vecs
        for r in q_signed_ivf_stored(spark, SF_SMALL).collect()
    }
    assert cell_margin == ivf

    pq = {
        (r.subspace, r.code): (r.n_vecs, r.vec_checksum)
        for r in q_signed_pq_stored(spark, SF_SMALL).collect()
    }
    assert code_margin == pq
