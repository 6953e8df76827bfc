"""Tooling checks that need no Spark session: every module the scripts
import must exist, so a script left pointing at a deleted module fails
here instead of on its next manual run; the package checkpoints
lineage only through ``operators.util.lineage_checkpoint``; the ANN
tier ranks and routes in one place each, with no ``assigner`` option;
the dedup, text, storage and multimodal tiers build each of their
shared mechanisms once; and no multimodal kernel takes a column-name
option."""

from __future__ import annotations

import ast
import importlib.util
import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
TOOLS = sorted(ROOT.glob("scripts/*.py")) + [ROOT / "__spark_entry__.py"]


def imported_modules(path: Path) -> set[str]:
    """Absolute module names imported anywhere in ``path``, including
    imports nested inside functions and ``if __name__`` blocks."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            names.add(node.module)
    return names


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_script_imports_resolve(path, monkeypatch):
    monkeypatch.syspath_prepend(str(ROOT))
    # the full dotted name, so a deleted submodule of an existing
    # package is caught as well as a deleted top-level module
    missing = sorted(
        m for m in imported_modules(path) if importlib.util.find_spec(m) is None
    )
    assert not missing, f"{path.name} imports modules that do not exist: {missing}"


def test_import_walk_sees_nested_imports(tmp_path):
    src = tmp_path / "tool.py"
    src.write_text(
        "def main():\n"
        "    if True:\n"
        "        from retired_tool import NAMES\n"
        "    import os.path\n"
    )
    assert imported_modules(src) == {"retired_tool", "os.path"}


PACKAGE = ROOT / "airflow_etl_pyspark_inmet_spark"


def bare_checkpoints(package: Path) -> list[str]:
    """``path:line`` of every ``localCheckpoint(`` call in ``package``
    outside ``operators/util.py``. A bare checkpoint hides its upstream
    plan from the segment audit (``util.AUDIT_SEGMENTS``); every other
    module must go through ``util.lineage_checkpoint``."""
    allowed = package / "operators" / "util.py"
    return [
        f"{path.relative_to(package)}:{n}"
        for path in sorted(package.rglob("*.py"))
        if path != allowed
        for n, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1)
        if "localCheckpoint(" in line
    ]


def test_every_checkpoint_goes_through_lineage_checkpoint():
    assert bare_checkpoints(PACKAGE) == []


def test_bare_checkpoint_scan_flags_other_modules(tmp_path):
    (tmp_path / "operators").mkdir()
    (tmp_path / "operators" / "util.py").write_text(
        "def lineage_checkpoint(df):\n    return df.localCheckpoint()\n"
    )
    (tmp_path / "op.py").write_text("x = df.localCheckpoint(eager=True)\n")
    assert bare_checkpoints(tmp_path) == ["op.py:1"]


SIMILARITY = PACKAGE / "operators" / "similarity.py"


def stray_calls(
    path: Path, func: str, owner: str, args: list[str] | None = None
) -> list[int]:
    """Lines of ``path`` that call ``func`` (with exactly ``args``, as
    source text, when given) outside the top-level function ``owner``."""
    tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
    owned = {
        id(n)
        for top in tree.body
        if isinstance(top, ast.FunctionDef) and top.name == owner
        for n in ast.walk(top)
    }
    return sorted(
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and id(n) not in owned
        and ast.unparse(n.func) == func
        and (args is None or [ast.unparse(a) for a in n.args] == args)
    )


def param_sites(root: Path, param: str, func: str | None = None) -> list[str]:
    """``path:line`` of every function under ``root`` (a file or a
    directory), or only those named ``func``, that takes a ``param``
    parameter: the ANN argmin path is chosen from k alone (no
    ``assigner``), and the multimodal tier reads fixed column names (no
    ``id_col``, ``text_col`` or ``payload_col``)."""
    base = root.parent if root.is_file() else root
    paths = [root] if root.is_file() else sorted(root.rglob("*.py"))
    return [
        f"{path.relative_to(base)}:{node.lineno}"
        for path in paths
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8")))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda))
        and param in [a.arg for a in node.args.args + node.args.kwonlyargs]
        and func in (None, getattr(node, "name", None))
    ]


def test_ann_tier_ranks_and_routes_in_one_place():
    query_windows = stray_calls(
        SIMILARITY, "Window.partitionBy", "_top_k", ["query_id_col"]
    )
    assert query_windows == [], "rank through similarity._top_k"
    assert stray_calls(SIMILARITY, "_assign_udf", "_ivf_route") == [], (
        "route through similarity._ivf_route"
    )


def test_no_function_takes_an_assigner():
    assert param_sites(PACKAGE, "assigner") == []


def test_ann_scans_flag_copies(tmp_path):
    (tmp_path / "sim.py").write_text(
        "def _top_k(df, query_id_col):\n"
        "    return Window.partitionBy(query_id_col)\n"
        "def _ivf_route(C):\n"
        "    return _assign_udf(C, 1)\n"
        "def other(query_id_col, C, assigner='auto'):\n"
        "    w = Window.partitionBy(query_id_col)\n"
        "    v = Window.partitionBy('node')\n"
        "    return _assign_udf(C, 2)(w)\n"
    )
    sim = tmp_path / "sim.py"
    assert stray_calls(sim, "Window.partitionBy", "_top_k", ["query_id_col"]) == [6]
    assert stray_calls(sim, "_assign_udf", "_ivf_route") == [8]
    assert param_sites(tmp_path, "assigner") == ["sim.py:5"]
    assert param_sites(sim, "query_id_col") == ["sim.py:1", "sim.py:5"]
    assert param_sites(sim, "query_id_col", "other") == ["sim.py:5"]


DEDUP = PACKAGE / "operators" / "dedup.py"

# the multimodal tier's kernel modules
MEDIA_KERNELS = (
    "operators/audio.py",
    "operators/avi.py",
    "operators/multimodal.py",
)

# the helper that owns each shared mechanism -> (its tier, a source
# pattern only a copy of that mechanism contains, scope under the
# package (one path or a tuple of them), the copies allowed in that
# scope: 0 where the owner reaches the pattern through a lower helper,
# 2 for the bigram split that both the string and the hashed bigram
# stream spell out[, a file under the package left out of the count:
# the registry's oracle SQL is the reference the engine is compared
# against, not a copy])
SHARED_MECHANISMS = {
    "text._word_grams": (
        "dedup",
        "F.sequence(F.lit(0), F.greatest(F.size(",
        "operators",
        1,
    ),
    "dedup._stack_bands": ("dedup", 'F.lit(b).alias("band")', "operators/dedup.py", 1),
    "dedup._gram_census": ("dedup", 'F.min(F.struct("_id", "pos"))', ".", 1),
    "dedup._jaccard": (
        "dedup",
        'F.col("n_a") + F.col("n_b") -',
        "operators/dedup.py",
        1,
    ),
    "dedup._salted_hash60": (
        "dedup",
        '_portable_hash60(F.concat(F.lit(f"{i}:")',
        "operators/dedup.py",
        1,
    ),
    "dedup._int64_gram_tiles": (
        "dedup",
        "np.floor(V * scale)",
        "operators/dedup.py",
        1,
    ),
    "dedup._excision_spans": (
        "dedup",
        'Window.partitionBy("_id").orderBy("pos")',
        "operators/dedup.py",
        1,
    ),
    "text._words": ("text", "F.split(F.trim(", ".", 1),
    # the tokenizer spelled as SQL text inside F.expr
    "text._words-sql": ("text", "split(trim(", ".", 0),
    "text._token_stream": ("text", "F.explode(F.split(F.trim(", ".", 0),
    "text._gram_hash_stream": ("text", 'F.xxhash64("g")', "operators", 1),
    "text._bigrams": ("text", 'F.split(F.col("g"), " ")', "operators/text.py", 2),
    "text._bigrams-substring_index": (
        "text",
        'F.substring_index("g"',
        "operators/text.py",
        0,
    ),
    "text._per_doc_mean": ("text", "div n_bigrams", "operators/text.py", 1),
    "snapshot._fs": ("storage", "hadoop.fs.Path(", "plans", 1),
    "snapshot._data_files": ("storage", ".listFiles(", ".", 1),
    "snapshot._manifest": (
        "storage",
        "no committed snapshots",
        "plans/snapshot.py",
        1,
    ),
    "snapshot._manifest_schema": (
        "storage",
        "StructType.fromJson(",
        "plans/snapshot.py",
        1,
    ),
    "snapshot._partition_strings": (
        "storage",
        '.cast("string").alias("_p")',
        "plans/snapshot.py",
        1,
    ),
    # create_stage_tables and the replace prelude
    "warehouse._clear_table": (
        "storage",
        "create_database(spark, db)",
        "plans/warehouse.py",
        2,
    ),
    # the Morton interleave's odd-bit shift
    "relational.zorder_value": (
        "storage",
        "2 * i + 1",
        ".",
        1,
        "plans/registry.py",
    ),
    "multimodal._map_payloads": (
        "multimodal",
        ".mapInPandas(",
        MEDIA_KERNELS,
        1,
    ),
    # one writer (_encode_wav) and one reader
    "audio._read_wav": ("multimodal", "wave.open(", ".", 2),
    # the text-to-byte rule, once in each modality's encoder:
    # _png_bytes, audio._wav_bytes and avi._avi_bytes
    "multimodal._png_bytes": ("multimodal", "ord(c) & 0xFF", "operators", 3),
    "multimodal._tile": (
        "multimodal",
        "// max(len(",
        "operators/multimodal.py",
        1,
    ),
    "queries_llm._media_tokens": (
        "multimodal",
        "((dim_a + 1) div 2)",
        "plans",
        1,
        "plans/registry.py",
    ),
    # the mixed-corpus operators catch exactly these codec errors
    "multimodal._CODEC_ERRORS": (
        "multimodal",
        "except Exception",
        MEDIA_KERNELS + ("operators/png.py",),
        0,
    ),
    # the stdlib+numpy codec in operators/png.py is the one PNG codec
    "png.png_decode": ("multimodal", "_PILImage", ".", 0),
    # the cosine of a pair joined from two _cos_side frames
    "similarity._pair_cosine": ("verify", 'F.col("_va"), F.col("_vb")', ".", 1),
    # a singleton keeps its own id as its cluster label
    "dedup._cluster_labels": ("verify", 'coalesce(F.col("comp"),', ".", 1),
    # the integer-tenths recall comparison and its hit count
    "similarity._recall_envelope": ("verify", '* 10 >= F.col("_tot")', ".", 1),
    "similarity._recall_envelope-hits": (
        "verify",
        'F.sum(F.coalesce(F.col("_hit"), F.lit(0)))',
        ".",
        1,
    ),
}


def tier(name: str) -> list[str]:
    return [owner for owner, m in SHARED_MECHANISMS.items() if m[0] == name]


def pattern_copies(root: Path, pattern: str) -> dict[str, int]:
    """Occurrences of ``pattern`` per ``.py`` file under ``root`` (a file
    or a directory), ignoring whitespace, so a copy wrapped over several
    lines still counts."""
    needle = re.sub(r"\s+", "", pattern)
    paths = [root] if root.is_file() else sorted(root.rglob("*.py"))
    counts = {
        str(path.relative_to(root.parent)): re.sub(
            r"\s+", "", path.read_text(encoding="utf-8")
        ).count(needle)
        for path in paths
    }
    return {name: n for name, n in counts.items() if n}


def assert_built_once(owner: str) -> None:
    _, pattern, scope, allowed, *skip = SHARED_MECHANISMS[owner]
    scopes = (scope,) if isinstance(scope, str) else scope
    roots = [PACKAGE / s for s in scopes]
    copies = {
        name: n
        for root in roots
        for name, n in pattern_copies(root, pattern).items()
        if root.parent / name not in [PACKAGE / s for s in skip]
    }
    assert sum(copies.values()) == allowed, f"build it through {owner}: {copies}"


@pytest.mark.parametrize("owner", tier("dedup"))
def test_dedup_tier_builds_each_mechanism_once(owner):
    assert_built_once(owner)


@pytest.mark.parametrize("owner", tier("text"))
def test_text_tier_builds_each_mechanism_once(owner):
    assert_built_once(owner)


@pytest.mark.parametrize("owner", tier("storage"))
def test_storage_tier_builds_each_mechanism_once(owner):
    assert_built_once(owner)


@pytest.mark.parametrize("owner", tier("multimodal"))
def test_multimodal_tier_builds_each_mechanism_once(owner):
    assert_built_once(owner)


@pytest.mark.parametrize("owner", tier("verify"))
def test_verify_tier_builds_each_mechanism_once(owner):
    assert_built_once(owner)


# options of the near-dup verification tier that no caller set away from
# the default: the tier reads fixed column names, and the recall harness
# builds its own exact side
REMOVED_OPTIONS = [
    ("operators/dedup.py", "connected_components", "a_col"),
    ("operators/dedup.py", "connected_components", "b_col"),
    ("operators/dedup.py", "embedding_cosine_pairs", "id_col"),
    ("operators/dedup.py", "embedding_cosine_pairs", "vec_col"),
    ("operators/dedup.py", "semantic_dedup_keepers", "id_col"),
    ("operators/dedup.py", "semantic_dedup_keepers", "vec_col"),
    ("operators/similarity.py", "ann_with_recall_check", "id_col"),
    ("operators/similarity.py", "ann_with_recall_check", "vec_col"),
    ("operators/similarity.py", "ann_with_recall_check", "query_id_col"),
    ("operators/similarity.py", "ann_with_recall_check", "exact"),
    ("operators/similarity.py", "ann_with_corpus_recall_check", "id_col"),
    ("operators/similarity.py", "ann_with_corpus_recall_check", "vec_col"),
    ("operators/similarity.py", "ann_with_corpus_recall_check", "query_id_col"),
]


@pytest.mark.parametrize(
    "path, func, param",
    REMOVED_OPTIONS,
    ids=[f"{func}-{param}" for _, func, param in REMOVED_OPTIONS],
)
def test_verify_tier_takes_no_unused_option(path, func, param):
    assert param_sites(PACKAGE / path, param, func) == []


@pytest.mark.parametrize("param", ["id_col", "text_col", "payload_col"])
def test_no_multimodal_kernel_takes_a_column_name(param):
    sites = [
        site
        for scope in MEDIA_KERNELS + ("operators/png.py",)
        for site in param_sites(PACKAGE / scope, param)
    ]
    assert sites == [], "the tier reads fixed input column names"


def test_dedup_tier_hashes_md5_prefixes_in_one_place():
    assert stray_calls(DEDUP, "F.conv", "_portable_hash60") == [], (
        "hash through dedup._portable_hash60"
    )


def test_dedup_scans_flag_copies(tmp_path):
    (tmp_path / "ops").mkdir()
    (tmp_path / "ops" / "a.py").write_text(
        "def _portable_hash60(s):\n"
        "    return F.conv(F.md5(s), 16, 10)\n"
        "def _jaccard(inter):\n"
        '    return inter / (F.col("n_a") + F.col("n_b") - inter)\n'
    )
    (tmp_path / "ops" / "b.py").write_text(
        "def ub(ic, m):\n"
        '    return (ic + m) / (F.col("n_a")\n'
        '                       + F.col("n_b") - ic - m)\n'
        "def bands(g):\n"
        '    return F.min(F.conv(F.substring(F.md5(g), 1, 15), 16, 10))\n'
    )
    pattern = 'F.col("n_a") + F.col("n_b") -'
    assert pattern_copies(tmp_path / "ops", pattern) == {
        "ops/a.py": 1,
        "ops/b.py": 1,
    }
    assert pattern_copies(tmp_path / "ops" / "a.py", pattern) == {"a.py": 1}
    assert stray_calls(tmp_path / "ops" / "a.py", "F.conv", "_portable_hash60") == []
    assert stray_calls(tmp_path / "ops" / "b.py", "F.conv", "_portable_hash60") == [5]
