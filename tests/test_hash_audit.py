"""One-hash-family audit: ``xxhash64`` is the only column hash the package
and its tools compute, and no function takes a ``hash_fn`` switch.

The DuckDB oracles grade the shipped hash through a pure-SQL XXH64 twin
(``queries._xxh64``); a second column-hash family would be a path the
oracles cannot grade, and a ``hash_fn`` option would choose between
paths. Python ``hashlib`` digests (Sparkify fingerprints, fake media
payloads) never touch a column and are out of scope."""

from __future__ import annotations

import ast
from pathlib import Path

import data_engineering_nd_datalake_project_4_spark as pkg

PKG = Path(pkg.__file__).parent
REPO = PKG.parent

#: ``pyspark.sql.functions`` column hashes other than xxhash64
OTHER_HASHES = {"md5", "sha1", "sha2", "crc32", "hash"}


def _findings(path: Path) -> list[str]:
    """``file:line what`` for every call to another column hash (through a
    ``functions`` module alias or a name imported from it) and every
    parameter named ``hash_fn``."""
    tree = ast.parse(path.read_text())
    mod_alias: set[str] = set()
    name_alias: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql":
            mod_alias |= {a.asname or a.name for a in node.names if a.name == "functions"}
        elif isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql.functions":
            name_alias |= {a.asname or a.name: a.name for a in node.names if a.name in OTHER_HASHES}
        elif isinstance(node, ast.Import):
            mod_alias |= {a.asname for a in node.names if a.name == "pyspark.sql.functions" and a.asname}
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            if (
                isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Name)
                and f.value.id in mod_alias
                and f.attr in OTHER_HASHES
            ):
                out.append((node.lineno, f"functions.{f.attr}"))
            elif isinstance(f, ast.Name) and f.id in name_alias:
                out.append((node.lineno, f"functions.{name_alias[f.id]}"))
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            a = node.args
            for arg in a.posonlyargs + a.args + a.kwonlyargs:
                if arg.arg == "hash_fn":
                    out.append((node.lineno, "parameter hash_fn"))
    return [f"{path.name}:{line} {what}" for line, what in sorted(out)]


def _audited_files() -> list[Path]:
    return sorted(PKG.rglob("*.py")) + sorted((REPO / "tools").rglob("*.py"))


def test_xxhash64_is_the_only_column_hash():
    assert [f for p in _audited_files() for f in _findings(p)] == []


def test_planted_other_hash_is_flagged(tmp_path):
    """Red case: a planted ``F.md5`` call, a ``sha2`` imported by name and a
    ``hash_fn`` parameter are flagged; ``F.xxhash64`` and a Python
    ``hashlib.md5`` are not."""
    planted = tmp_path / "planted.py"
    planted.write_text(
        "import hashlib\n"
        "from pyspark.sql import functions as F\n"
        "from pyspark.sql.functions import sha2 as digest\n"
        "\n"
        "def bucket(c):\n"
        "    return F.md5(c)\n"
        "\n"
        "def fingerprint(c, hash_fn='xxhash64'):\n"
        "    return digest(c, 256)\n"
        "\n"
        "def shipped(c):\n"
        "    return F.xxhash64(c), hashlib.md5(b'x').hexdigest()\n"
    )
    assert _findings(planted) == [
        "planted.py:6 functions.md5",
        "planted.py:8 parameter hash_fn",
        "planted.py:9 functions.sha2",
    ]
    # the real audit sees the same plant appended to a copy of a package module
    real = PKG / "operators" / "sketches.py"
    copy = tmp_path / "sketches.py"
    copy.write_text(real.read_text() + "\n\ndef planted_bucket(c):\n    return F.md5(c)\n")
    assert [f for f in _findings(copy) if "md5" in f] != []
