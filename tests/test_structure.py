"""Structure pins read from the source without starting Spark.

- The streaming micro-batch protocol: one foreachBatch runner (which
  owns the one checkpoint guard), one ``_batch_id`` partition-sink
  write, and no replay comparison in the stream jobs — the replay check
  lives with each manifest format (``io.apply_versioned_batch`` for
  ledgers, ``index_store.batch_committed`` for index adds).
- The ANN tier: one exact-witness kernel call (``exact_topk_witness``),
  one residual codebook training call, and the IVF-PQ layout writer's
  privates used only inside ``similarity.py``.
- The ANN index surfaces: one persisted-index open (``_open_ann_index``:
  the only layout check on ``codebooks.parquet`` besides the stats
  report, the only stale-rotation refusal) and one per-query probe
  (``_probe_ann``: the only call of each probe step), whose IVF-PQ
  modes and the flat ``pq_topk`` share one ADC shortlist kernel
  (``_adc_shortlist_topk``) and one stale-code check.
- The winnow text tier: one batch fingerprint in the streaming jobs
  (``_fingerprint_batch``), one per-doc span union (``_scrub_spans``),
  one persisted winnow-index read (inside ``_WinnowIndex``, which
  ``_open_winnow_index`` returns), one stop-gram cap predicate
  (``_over_cap``, behind ``_stop_grams`` and the probe kernel) and one
  committed-side probe kernel (``_winnow_probe``) behind the value-set
  and the positioned wrappers, neither of which checkpoints its batch.
- No unmarked ``except Exception`` in the package.
- The session confs are applied at one boundary: no per-module
  ``_prep`` in the plan modules, ``apply_runtime_confs(`` called only by
  the session factory, the registry wrapper and the driver entry, and
  ``SparkSession.builder`` only in ``session.py``.
- The corpus-build audits share one recipe in ``plans/oracle_lib``: one
  audit ``CorpusBuildConfig``, one pack tail (``quota``), one
  against-index decision (``iheavy``) and one temp-index lifetime
  (``tempfile.mkdtemp``) across ``plans/``; ``catalog.py`` sets no conf.
- Every package name ``scripts/*.py`` and ``bench.py`` import or reach
  through an attribute exists (nothing in the default test run executes
  them, so a rename would otherwise break them silently).
- One stress harness (``scripts/stress.py``): one warm-trial timer, one
  copy-dataset builder, one exponent computation, no stream runner of
  its own, and every row the ten scripts it replaced measured.
"""

from __future__ import annotations

import ast
import importlib
import pathlib
import re

import bigdata_usaspending_spark

_PKG = pathlib.Path(bigdata_usaspending_spark.__file__).parent
_REPO = _PKG.parent
_PKG_NAME = _PKG.name


def _source(rel: str) -> str:
    return (_PKG / rel).read_text(encoding="utf-8")


def _package_count(needle: str) -> int:
    return sum(
        p.read_text(encoding="utf-8").count(needle) for p in _PKG.rglob("*.py")
    )


def test_one_foreach_batch_runner():
    assert _package_count(".foreachBatch(") == 1
    assert _source("streaming/jobs.py").count(".foreachBatch(") == 1


def test_one_checkpoint_guard_message():
    assert _package_count("no checkpointLocation was given") == 1


def test_one_batch_partition_sink_write():
    assert _source("streaming/jobs.py").count("partitionOverwriteMode") == 1


def test_replay_checks_live_with_the_manifest_formats():
    assert "batch_id <= manifest" not in _source("streaming/jobs.py")
    assert _source("io.py").count('batch_id <= manifest["batch_id"]') == 1
    assert _source("index_store.py").count('batch_id <= manifest["batch_id"]') == 1


def _package_calls(name: str, **keywords: str) -> int:
    """Calls to ``name(...)`` (bare or as an attribute) in the package
    whose string-constant keyword arguments include ``keywords``."""
    n = 0
    for p in _PKG.rglob("*.py"):
        for node in ast.walk(ast.parse(p.read_text(encoding="utf-8"))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if getattr(f, "id", getattr(f, "attr", None)) != name:
                continue
            kw = {
                k.arg: k.value.value
                for k in node.keywords
                if isinstance(k.value, ast.Constant)
            }
            n += all(kw.get(k) == v for k, v in keywords.items())
    return n


def test_one_exact_witness_kernel_call():
    assert _package_calls("euclidean_to_query_kernel") == 1
    assert _package_calls("exact_topk_witness") >= 9


def test_one_residual_codebook_training_call():
    assert _package_calls("pq_train_driver", vec_col="residual") == 1


def test_ivf_pq_writer_privates_stay_in_similarity():
    outside = [
        p for p in [*_PKG.rglob("*.py"), *_REPO.glob("scripts/*.py"),
                    _REPO / "bench.py"]
        if p.name != "similarity.py"
    ]
    for needle in ("_ivf_pq_index_write_encoded", "_write_index_rotation"):
        assert [str(p) for p in outside if needle in p.read_text(encoding="utf-8")] == []


def test_one_ann_probe_sequence():
    for step in (
        "_ivf_pq_probe_tables", "_adaptive_pruned_tables",
        "_adc_pruned_tables", "_ivf_probe_cells",
    ):
        assert _package_calls(step) == 1, step


def test_one_adc_shortlist_kernel():
    src = _source("operators/similarity.py")
    callers = sorted(
        fn.name
        for fn in ast.walk(ast.parse(src))
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", None) == "_adc_shortlist_topk"
    )
    assert callers == ["_probe_ann", "pq_topk"]
    assert _package_calls("_adc_shortlist_topk") == 2
    assert _package_count("def _adc_shortlist_topk(") == 1
    assert _package_count("out of range for subspace") == 1
    assert "_ivf_pq_rerank" not in src


def test_one_persisted_ann_index_open():
    src = _source("operators/similarity.py")
    assert src.count("a rotation is only valid on the IVF-PQ") == 1
    layout_checks = [
        fn.name
        for fn in ast.walk(ast.parse(src))
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.Call)
        and getattr(node.func, "attr", None) == "has"
        and any(
            isinstance(a, ast.Constant) and a.value == "codebooks.parquet"
            for a in node.args
        )
    ]
    assert sorted(layout_checks) == ["_open_ann_index", "ann_index_stats"]


def test_one_winnow_batch_fingerprint_in_the_streams():
    assert _source("streaming/jobs.py").count("winnow_fingerprints(") <= 1


def test_one_winnow_span_union():
    assert _package_count('collect_list(F.struct("b_start", "b_end"))') == 1


def test_one_persisted_winnow_index_read():
    tree = ast.parse(_source("operators/dedup.py"))
    callers = [
        cls.name
        for cls in ast.walk(tree)
        if isinstance(cls, ast.ClassDef)
        for node in ast.walk(cls)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", None) == "_read_index_fps"
    ]
    assert callers == ["_WinnowIndex"]
    assert _package_count("_read_index_fps(") == 2  # the def and that call


def test_one_stop_gram_cap():
    assert _source("operators/dedup.py").count("> max_") == 1


def test_one_committed_side_winnow_probe():
    src = _source("operators/dedup.py")
    defs = {
        node.name: ast.get_source_segment(src, node)
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.FunctionDef)
    }
    for wrapper in ("_winnow_matched_ids", "winnow_spans_against_index"):
        assert "_winnow_probe(" in defs[wrapper], wrapper
        assert "localCheckpoint(" not in defs[wrapper], wrapper
    assert _package_count("_winnow_probe(") == 3  # the def and the two


def test_broad_exception_handlers_are_marked():
    unmarked = [
        f"{p.relative_to(_PKG)}:{i}"
        for p in _PKG.rglob("*.py")
        for i, line in enumerate(p.read_text(encoding="utf-8").splitlines(), 1)
        if re.search(r"except(\s+Exception)?(\s+as\s+\w+)?\s*:", line)
        and "noqa: BLE001" not in line
    ]
    assert unmarked == []


def _resolve(dotted: str):
    """The object a dotted package path names: the longest importable
    module prefix, then attributes (importing submodules on the way)."""
    parts = dotted.split(".")
    for i in range(len(parts), 0, -1):
        try:
            obj = importlib.import_module(".".join(parts[:i]))
        except ModuleNotFoundError:
            continue
        for j, attr in enumerate(parts[i:], start=i):
            if not hasattr(obj, attr):
                obj = importlib.import_module(".".join(parts[: j + 1]))
            obj = getattr(obj, attr)
        return obj
    raise ModuleNotFoundError(dotted)


def _script_package_refs(path: pathlib.Path) -> "list[str]":
    """Dotted package paths a script names: its package imports, module
    strings (``-m`` targets), and attribute chains through a name bound
    to a package module, followed while the base is a module."""
    tree = ast.parse(path.read_text(encoding="utf-8"))
    bound, refs = {}, []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == _PKG_NAME:
            for a in node.names:
                refs.append(f"{node.module}.{a.name}")
                bound[a.asname or a.name] = refs[-1]
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == _PKG_NAME:
                    refs.append(a.name)
                    bound[a.asname or _PKG_NAME] = a.name if a.asname else _PKG_NAME
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if re.fullmatch(rf"{_PKG_NAME}(\.\w+)+", node.value):
                refs.append(node.value)
    for node in ast.walk(tree):
        chain = []
        cur = node
        while isinstance(cur, ast.Attribute):
            chain.append(cur.attr)
            cur = cur.value
        if chain and isinstance(cur, ast.Name) and cur.id in bound:
            refs.append(".".join([bound[cur.id], *reversed(chain)]))
    return refs


def test_script_package_references_resolve():
    import types

    missing = []
    for path in [*sorted(_REPO.glob("scripts/*.py")), _REPO / "bench.py"]:
        for ref in _script_package_refs(path):
            parts = ref.split(".")
            obj = None
            for i in range(1, len(parts) + 1):
                if i > 1 and not isinstance(obj, types.ModuleType):
                    break  # attributes of functions/classes are not pinned
                try:
                    obj = _resolve(".".join(parts[:i]))
                except (AttributeError, ModuleNotFoundError):
                    missing.append(f"{path.name}: {ref}")
                    break
    assert missing == []


def _repo_sources():
    """The package, ``scripts/*.py``, ``bench.py`` and the driver entry."""
    return [*_PKG.rglob("*.py"), *sorted(_REPO.glob("scripts/*.py")),
            _REPO / "bench.py", _REPO / "__spark_entry__.py"]


def test_no_per_module_session_prep():
    for p in (_PKG / "plans").glob("*.py"):
        src = p.read_text(encoding="utf-8")
        assert "def _prep" not in src, p.name
        assert "_prep(" not in src, p.name


def test_session_confs_applied_at_one_boundary():
    callers = sorted(
        str(p.relative_to(_REPO))
        for p in _repo_sources()
        if "apply_runtime_confs(" in p.read_text(encoding="utf-8")
    )
    assert callers == [
        "__spark_entry__.py",
        f"{_PKG_NAME}/plans/__init__.py",
        f"{_PKG_NAME}/session.py",
    ]


def test_one_session_builder():
    builders = [
        str(p.relative_to(_REPO))
        for p in _repo_sources()
        if "SparkSession.builder" in p.read_text(encoding="utf-8")
    ]
    assert builders == [f"{_PKG_NAME}/session.py"]


def _plans_count(needle: str, skip: str = "") -> int:
    return sum(
        p.read_text(encoding="utf-8").count(needle)
        for p in (_PKG / "plans").glob("*.py")
        if p.name != skip
    )


def test_one_audit_corpus_build_config():
    assert _plans_count("CorpusBuildConfig(", skip="build_corpus.py") == 1


def test_one_corpus_build_pack_replay():
    assert _plans_count("quota AS (") == 1


def test_one_against_index_decision_replay():
    assert _plans_count("iheavy AS (") == 1


def test_one_temp_index_lifetime():
    assert _plans_count("tempfile.mkdtemp(") == 1


def test_catalog_sets_no_session_conf():
    assert "spark.conf.set(" not in _source("catalog.py")


# Row names of the ten scripts ``scripts/stress.py`` replaced.
_OLD_STRESS_ROWS = {
    "stress_sf1": [
        "dedup_exact", "dedup_minhash_lsh", "dedup_simhash", "near_dedup_pipeline",
        "dedup_embedding_blocked", "ann_brute_force", "ann_rp_lsh", "ann_quantized",
        "ann_pq", "knn_join", "ann_ivf_knn_join", "maxsim", "repeated_passages",
        "heavy_hitter_tokens", "cms_token_counts", "dedup_incremental_minhash",
        "fuzzy_pairs", "fuzzy_pairs_k2", "semantic_decontaminate", "quota_mix",
        "psi_drift", "split_grouped", "contamination_report",
        "contamination_report_ngram", "skew_profile", "commonness_scorer",
        "training_pipeline_v2", "bm25_topk", "bm25_batch", "bm25_inverted",
        "lm_perplexity", "dedup_clusters_cc", "hll_distinct", "interval_overlap",
        "hybrid_rrf", "rerank_topk", "dsir_resample", "rrf_grouped_ensemble",
        "langid_trained", "training_pipeline_v3", "url_dedup", "rerank_trained",
        "corpus_build_mini", "corpus_datasheet", "fuzzy_k3_passjoin", "ann_ivf_pq",
        "sequence_manifest",
    ],
    "stress_sketches": ["tdigest_groups", "dedup_incremental_bloom"],
    "stress_sf10": [
        "dedup_exact", "ann_brute_force", "ann_quantized", "maxsim",
        "heavy_hitter_tokens", "semantic_decontaminate", "bm25_topk", "bm25_batch",
        "bm25_inverted", "lm_perplexity", "hll_distinct", "hybrid_rrf", "rerank_topk",
        "dsir_resample", "rrf_grouped_ensemble", "langid_trained",
        "training_pipeline_v3",
    ],
    "stress_ivfpq": [
        "centroids", "assign", "residual", "pq_train", "pq_train_capped", "encode",
        "index_write", "probe", "probe_live",
    ],
    "stress_r12": [
        "winnow_robust_fold", "winnow_match_spans", "winnow_pairs_capped",
        "ivfpq_probe_plain", "ivfpq_probe_adc_prune",
    ],
    "stress_r12b": [
        "winnow_spans_incremental_probe", "ivfpq_probe_adaptive",
        "_adaptive_cells_scanned",
    ],
    "stress_r13": [
        "winnow_robust_fold", "winnow_spans_probe", "winnow_spans_probe_pairs",
        "ivfpq_probe_fragmented", "ivfpq_probe_compacted", "ivfpq_probe_adaptive",
    ],
    "stress_r14": [
        "against_index_dedup", "against_index_dedup_survivors",
        "corpus_build_incremental", "winnow_remove_sec", "against_index_tombstoned",
        "against_index_after_compact", "ivf_probe", "ivf_probe_tombstoned",
        "ivf_probe_after_compact",
    ],
}
# Entries that were counts or one-shot setup timings, not timed rows: the
# harness prints them with their row (n_<scale>, the probe note, the
# remove line).
_FOLDED_STRESS_ENTRIES = {
    "_adaptive_cells_scanned", "winnow_spans_probe_pairs",
    "against_index_dedup_survivors", "winnow_remove_sec",
}


def _stress_source() -> str:
    return (_REPO / "scripts" / "stress.py").read_text(encoding="utf-8")


def test_one_stress_harness():
    assert sorted(p.name for p in _REPO.glob("scripts/stress*.py")) == ["stress.py"]
    src = _stress_source()
    assert src.count("for _ in range(2)") == 1  # the warm-trial timer
    assert src.count(".crossJoin(") == 1  # the copy builder
    exponents = [
        node for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.Call) and getattr(node.func, "attr", "").startswith("log")
    ]
    assert len(exponents) == 1
    assert ".foreachBatch(" not in src


def test_stress_families_keep_every_old_row():
    from test_stress import load_stress

    families = load_stress().FAMILIES
    names = {r.name for f in families.values() for r in getattr(f, "rows", ())}
    old = {n for rows in _OLD_STRESS_ROWS.values() for n in rows}
    assert names == old - _FOLDED_STRESS_ENTRIES
    assert [r.name for r in families["sf10"].rows] == _OLD_STRESS_ROWS["stress_sf10"]
    assert families["sf10"].scales == (1, 100)
    assert {r.name for r in families["sf1"].rows} == {
        *_OLD_STRESS_ROWS["stress_sf1"], *_OLD_STRESS_ROWS["stress_sketches"]}
