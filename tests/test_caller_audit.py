"""Caller audit: every public top-level function of the package has a
caller outside the tests, or a reason on record. Functions registered in
the query registry by ``@q`` are the ``__spark_entry__.py`` surface and
are exempt.

A function only the tests call ships nothing; a mode or twin kept for a
test doubles what the tests must cover. The audit resolves references
through the AST, not by grepping names: a use counts when it is the bare
name inside the defining module (outside the function's own body), a name
imported from that module, or an attribute of an alias bound to it. An
import alone is not a use."""

from __future__ import annotations

import ast
from pathlib import Path

import data_engineering_nd_datalake_project_4_spark as pkg

PKG = Path(pkg.__file__).parent
REPO = PKG.parent
PKG_NAME = PKG.name

#: public functions with no caller outside the tests, each with the reason
#: it stays. Most are operators that still owe a registry measurement or
#: their deletion (ROADMAP direction D); the audit keeps the list from
#: growing unnoticed.
_MEDIA = "media kernel of the multimodal family; no registry query decodes media yet"
_PLAN = "plan predicate the plan tests assert with; the repo-wide audits use the walkers beside it"
_STREAM = "Structured Streaming source, operator or sink; the query registry is batch, so only the stream tests run it"
WHITELIST = {
    "operators.multimodal.image_features": _MEDIA,
    "operators.multimodal.audio_features": _MEDIA,
    "operators.multimodal.resize_images": _MEDIA,
    "operators.multimodal.sample_video_frames": _MEDIA,
    "operators.multimodal.media_stats": _MEDIA,
    "operators.multimodal.binary_files_to_media": _MEDIA,
    "operators.multimodal.image_near_dup_pairs": _MEDIA,
    "operators.models.save_kmeans_model": "persists q91's k-means model; no registry query persists a model",
    "operators.models.load_kmeans_model": "reads back save_kmeans_model's output",
    "operators.similarity.quantize_embeddings": "int8 embedding codec; no registry query stores quantized vectors",
    "operators.similarity.dequantize": "inverse of quantize_embeddings",
    "operators.similarity.assign_ivf_buckets": "IVF cell assignment on its own; ivf_topk runs the same argmin inline",
    "operators.dedup.embedding_near_dup_pairs": "per-pair Catalyst cosine: the reference blocked_all_pairs_cosine is checked against",
    "operators.incremental.corpus_diff": "snapshot-to-snapshot corpus diff; a capability of its own, not a dedup twin",
    "operators.joins.bloom_prefilter_join": "bloom-filter prefilter join; no registry query selects it",
    "operators.packing.pack_first_fit": "first-fit packer; the registry packs with pack_greedy_contiguous",
    "operators.skew.skewed_keys": "exact hot-key finder; the skew joins take sampled hot keys",
    "operators.zorder.write_zordered": "Z-order clustered writer; no registry table is written Z-ordered",
    "operators.aggregates.grouping_sets": "explicit GROUPING SETS; the registry uses rollup and cube",
    "operators.dedup.weighted_corpus_mix": "weighted source mix for a training corpus; no pipeline mixes sources yet",
    "functions.udfs.grouped_zscore": "grouped-map pandas UDF example; no registry query selects it",
    "plans.has_broadcast_join": _PLAN,
    "plans.has_pushed_filter": _PLAN,
    "plans.has_take_ordered": _PLAN,
    "plans.scan_is_pruned": _PLAN,
    "plans.unvocabularied_string_array_shuffle_payloads": _PLAN,
    "session.scale_conf": "sizing conf of README's 100 TB configuration profile; no local run is sized for it",
    "sources.read_binary_files": "media ingest front door of the multimodal family; no registry query decodes media yet",
    "sources.read_csv": "CSV ingest with the malformed-record posture; the reference feed is JSON",
    "sources.read_parquet": "schema-merging parquet scan; registry tables load through catalog.load_table",
    "sources.sinks.upsert_partitioned": "partition-local merge into a lake table; no pipeline upserts yet",
    "sources.sinks.write_bucketed_table": "bucketed managed table for shuffle-free joins; the registry reads no catalog tables",
    "sources.sinks.write_jsonl": "JSON-Lines export of a training corpus; shards ship as parquet",
    "streaming.read_file_stream": _STREAM,
    "streaming.read_rate_stream": _STREAM,
    "streaming.run_available_now": _STREAM,
    "streaming.run_cdc_upsert_stream": _STREAM,
    "streaming.run_cms_state_stream": _STREAM,
    "streaming.run_incremental_exact_dedup_stream": _STREAM,
    "streaming.run_incremental_lsh_dedup_stream": _STREAM,
    "streaming.run_incremental_semantic_dedup_stream": _STREAM,
    "streaming.run_sketch_state_stream": _STREAM,
    "streaming.run_topk_candidate_stream": _STREAM,
    "streaming.stateful.idle_evicting_session_counts": _STREAM,
    "streaming.stateful.running_count_per_key": _STREAM,
    "streaming.stateful.running_stats_per_key": _STREAM,
    "streaming.stream_dedup": _STREAM,
    "streaming.stream_static_join": _STREAM,
    "streaming.stream_stream_interval_join": _STREAM,
}


def _sources(*roots: Path) -> list[Path]:
    out: list[Path] = []
    for root in roots:
        out.extend([root] if root.is_file() else sorted(root.rglob("*.py")))
    return out


def _module_key(path: Path, base: Path) -> str:
    parts = list(path.relative_to(base).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _registered(node: ast.FunctionDef) -> bool:
    """Registered into the query registry by ``@q(...)``; it is reached
    through ``__spark_entry__.queries()``."""
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "q"
        for d in node.decorator_list
    )


def _public_defs(files: list[Path], base: Path) -> dict[str, ast.FunctionDef]:
    """``module.name`` → node of every public top-level def outside the
    query registry."""
    return {
        f"{_module_key(path, base)}.{node.name}": node
        for path in files
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef) and not node.name.startswith("_") and not _registered(node)
    }


def _resolve(tree: ast.Module, path: Path, base: Path, modules: set[str]) -> list[tuple[ast.AST, str]]:
    """Each ``Name``/``Attribute`` node of ``tree`` (parsed from ``path``)
    that resolves to a ``module.name`` key, through that file's imports (or
    its own module for bare names). A use inside the function's own
    top-level body (recursion) is not resolved."""
    own = _module_key(path, base) if path.is_relative_to(base) else None
    mod_alias: dict[str, str] = {}  # local name -> module key
    name_alias: dict[str, str] = {}  # local name -> module.name

    def key(dotted: str | None) -> str | None:
        if dotted == PKG_NAME:
            return ""
        if dotted and dotted.startswith(PKG_NAME + "."):
            return dotted[len(PKG_NAME) + 1:]
        return None

    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                k = key(a.name)
                if k in modules and a.asname:
                    mod_alias[a.asname] = k
        elif isinstance(node, ast.ImportFrom):
            k = key(node.module)
            if k is None:
                continue
            for a in node.names:
                sub = f"{k}.{a.name}" if k else a.name
                if sub in modules:
                    mod_alias[a.asname or a.name] = sub
                else:
                    name_alias[a.asname or a.name] = f"{k}.{a.name}"

    skip: set[int] = set()
    if own is not None:
        for top in tree.body:
            if isinstance(top, ast.FunctionDef):
                skip.update(id(n) for n in ast.walk(top) if isinstance(n, ast.Name) and n.id == top.name)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and id(node) not in skip:
            if node.id in name_alias:
                out.append((node, name_alias[node.id]))
            elif own is not None:
                out.append((node, f"{own}.{node.id}"))
        elif isinstance(node, ast.Attribute):
            k = mod_alias.get(node.value.id) if isinstance(node.value, ast.Name) else key(ast.unparse(node.value))
            if k is not None:
                out.append((node, f"{k}.{node.attr}" if k else node.attr))
    return out


def _references(path: Path, base: Path, modules: set[str]) -> set[str]:
    """``module.name`` keys that ``path`` uses (see ``_resolve``)."""
    return {k for _, k in _resolve(ast.parse(path.read_text()), path, base, modules)}


def _caller_less(def_files: list[Path], ref_files: list[Path], base: Path) -> set[str]:
    modules = {_module_key(p, base) for p in _sources(base)}
    used: set[str] = set()
    for path in ref_files:
        used |= _references(path, base, modules)
    return _public_defs(def_files, base).keys() - used


def _shipped_callers() -> list[Path]:
    return _sources(PKG, REPO / "tools", REPO / "perfbench", REPO / "bench.py", REPO / "__spark_entry__.py")


def _operator_files() -> list[Path]:
    return _sources(PKG)


def test_every_public_operator_has_a_caller_or_a_reason():
    caller_less = _caller_less(_operator_files(), _shipped_callers(), PKG)
    assert sorted(caller_less - set(WHITELIST)) == []


def test_whitelist_is_not_stale():
    """A whitelisted name that gained a caller, or no longer exists, must
    leave the whitelist."""
    defined = _public_defs(_operator_files(), PKG)
    caller_less = _caller_less(_operator_files(), _shipped_callers(), PKG)
    assert sorted(n for n in WHITELIST if n not in defined) == []
    assert sorted(n for n in WHITELIST if n not in caller_less) == []
    assert all(reason.strip() for reason in WHITELIST.values())


def test_planted_caller_less_function_is_flagged(tmp_path):
    """Red case: in a module beside the real ones, a function only its own
    body calls is flagged, and so is one that is imported but never
    called; one that another function calls, one used through a module
    alias and one imported by name and called are not."""
    base = tmp_path / PKG_NAME
    (base / "operators").mkdir(parents=True)
    planted = base / "operators" / "planted.py"
    planted.write_text(
        "def orphan(df):\n"
        "    return orphan(df)\n"
        "\n"
        "def helper(df):\n"
        "    return df\n"
        "\n"
        "def entry(df):\n"
        "    return helper(df)\n"
        "\n"
        "def by_alias(df):\n"
        "    return df\n"
        "\n"
        "def by_name(df):\n"
        "    return df\n"
        "\n"
        "def imported_only(df):\n"
        "    return df\n"
    )
    caller = base / "caller.py"
    caller.write_text(
        f"from {PKG_NAME}.operators import planted as P\n"
        f"from {PKG_NAME}.operators.planted import by_name, entry, imported_only\n"
        "\n"
        "def run(df):\n"
        "    return P.by_alias(entry(by_name(df)))\n"
    )
    got = _caller_less([planted], [planted, caller], base)
    assert got == {"operators.planted.orphan", "operators.planted.imported_only"}
    # the real audit sees the same plant: a caller-less def added to an
    # operator module is flagged
    real = PKG / "operators" / "dedup.py"
    copy = base / "operators" / "dedup.py"
    copy.write_text(real.read_text() + "\n\ndef planted_twin(df):\n    return df\n")
    assert "operators.dedup.planted_twin" in _caller_less([copy], [copy, caller], base)
