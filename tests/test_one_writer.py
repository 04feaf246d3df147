"""Source scan: ``sinks.py`` holds the package's only ``DataFrame.write``,
and no module sets ``partitionOverwriteMode`` to ``dynamic``.

Every directory the package writes is a static overwrite of a directory
it owns through ``sinks._replace``, with no ``.crc`` file beside each
part file and no ``.spark-staging-*`` tree: a second writer chain would
bring either back."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "access_log_parser_spark"


def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _dataframe_writes(tree: ast.Module) -> list[int]:
    """Lines that read a ``.write`` attribute without calling it:
    ``df.write.mode(...)`` is one, ``f.write(text)`` is not."""
    called = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
    return sorted(
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and n.attr == "write" and id(n) not in called
    )


def _str(node) -> str | None:
    return node.value if isinstance(node, ast.Constant) and isinstance(node.value, str) else None


def _dynamic_overwrites(tree: ast.Module) -> list[int]:
    """Lines that set ``partitionOverwriteMode`` (or its session conf) to
    ``dynamic``: ``.option(k, v)``, ``conf.set(k, v)``, ``.config(k, v)``,
    ``.options(partitionOverwriteMode=v)`` and ``{k: v}``."""
    hits = []
    for n in ast.walk(tree):
        pairs = []
        if isinstance(n, ast.Call):
            if len(n.args) >= 2:
                pairs.append((_str(n.args[0]), n.args[1]))
            pairs.extend((kw.arg, kw.value) for kw in n.keywords)
        elif isinstance(n, ast.Dict):
            pairs.extend((_str(k), v) for k, v in zip(n.keys, n.values) if k is not None)
        for key, value in pairs:
            if (
                key is not None
                and key.endswith("partitionOverwriteMode")
                and (_str(value) or "").lower() == "dynamic"
            ):
                hits.append(n.lineno)
    return sorted(hits)


def test_sinks_holds_the_only_dataframe_write():
    found = {
        str(p.relative_to(ROOT)): lines
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.name != "sinks.py" or p.parent != PACKAGE
        for lines in [_dataframe_writes(_tree(p))]
        if lines
    }
    assert found == {}
    assert _dataframe_writes(_tree(PACKAGE / "sinks.py"))


def test_no_dynamic_partition_overwrite():
    found = {
        str(p.relative_to(ROOT)): lines
        for p in sorted(ROOT.rglob("*.py"))
        if "tests" not in p.relative_to(ROOT).parts
        for lines in [_dynamic_overwrites(_tree(p))]
        if lines
    }
    assert found == {}


def test_scan_sees_both_spellings():
    src = (
        "df.write.mode('overwrite').parquet(p)\n"
        "f.write('x')\n"
        "w = df.write\n"
        "df.write.option('partitionOverwriteMode', 'dynamic')\n"
        "spark.conf.set('spark.sql.sources.partitionOverwriteMode', 'DYNAMIC')\n"
        "df.write.options(partitionOverwriteMode='dynamic')\n"
        "conf = {'spark.sql.sources.partitionOverwriteMode': 'dynamic'}\n"
        "df.write.option('partitionOverwriteMode', 'static')\n"
    )
    tree = ast.parse(src)
    assert _dataframe_writes(tree) == [1, 3, 4, 6, 8]
    assert _dynamic_overwrites(tree) == [4, 5, 6, 7]
