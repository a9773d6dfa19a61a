"""Seeded contract-folder tree for the ``cli_ingest`` workload, and a
pure-Python model of what the CLI must load from it.

Every directory is built from one of the engine's fixture templates
(``fixtures.CONTRACT_FILES``) with its declared identifiers renamed
(``Vault`` -> ``Vault_17``), so each unique directory has its own
content id.  A seeded share of directories are whitespace- or
CRLF-variants of an earlier one and must collapse onto its id, and a
few orphan directories carry no ``metadata.json`` and must be dropped.

The model predicts the ``contract`` and ``function`` row counts and
the file set each ``export-source`` lookup writes, without Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
from collections import defaultdict
from dataclasses import dataclass, field

from smart_contract_database_builder_spark import fixtures

#: The tree's make-up.  ASSUMED, NOT MEASURED: no measured layout mix
#: of a real verified-contract dump is in the repository, so these
#: shares (layout weights, duplicate and orphan shares) are guesses.
#: They decide how much work falls on each parse path and on the
#: compile stage; replace them once a measured mix is committed.
LAYOUT_WEIGHTS = {"single": 40, "json": 30, "multi": 15, "crlf": 10, "vyper": 5}
#: Share of directories that are whitespace or CRLF variants of another.
DUP_SHARE = 0.15
#: Share of directories without ``metadata.json``.
ORPHAN_SHARE = 0.03

#: Template directory and the identifiers renamed per copy.
_TEMPLATES = {
    "single": ("demo_single", ("Vault",)),
    "json": ("demo_json", ("Wrapped", "IWrapped")),
    "multi": ("demo_multi", ("Tally", "SafeTallyLib", "ITally")),
    "crlf": ("demo_crlf", ("CrLf",)),
    "vyper": ("demo_vyper", ("LiquidityPool", "pool_total")),
}

#: Function rows per unique contract of each layout: one row per
#: distinct (file, selector) the extraction stage emits.  Renaming
#: contracts changes no signature, so the count is per template; the
#: benchmark's tests pin these against the engine's extractor.
FUNCTION_ROWS = {"single": 3, "json": 3, "multi": 5, "crlf": 1, "vyper": 0}

_WS = re.compile(r"\s+")


def _rename(text: str, names: tuple[str, ...], suffix: str) -> str:
    for name in names:
        text = re.sub(rf"\b{name}\b", f"{name}{suffix}", text)
    return text


def _template_files() -> dict[str, list[tuple[str, str]]]:
    by_dir: dict[str, list[tuple[str, str]]] = defaultdict(list)
    for d, name, content in fixtures.CONTRACT_FILES:
        by_dir[d].append((name, content))
    return by_dir


def _variant(name: str, content: str, crlf: bool) -> str:
    """A copy that differs only in whitespace: CRLF line ends, or blank
    lines and tab indents.  A standard-json container is re-dumped with
    indentation instead, because raw tabs or CRs inside its strings
    would not be valid JSON."""
    if name.endswith(".json"):
        text = json.dumps(json.loads(content), indent=2)
    else:
        text = content.replace("\r\n", "\n")
        if not crlf:
            text = text.replace("\n", "\n\n").replace("    ", "\t")
    return text.replace("\n", "\r\n") if crlf else text


def content_id(files: dict[str, str], layout: str) -> str:
    """md5 of the whitespace-stripped source; a multi-file bundle hashes
    its sorted per-file digests (the engine's identity rule)."""

    def digest(s: str) -> str:
        return hashlib.md5(_WS.sub("", s).encode()).hexdigest()

    if layout == "multi":
        sol = sorted(digest(c) for n, c in files.items() if n.endswith(".sol"))
        return hashlib.md5("".join(sol).encode()).hexdigest()
    (main,) = [c for n, c in files.items() if n in _SOURCE_FILE.values()]
    return digest(main)


_SOURCE_FILE = {
    "single": "main.sol",
    "crlf": "main.sol",
    "json": "contract.json",
    "vyper": "main.vy",
}


def exported_files(files: dict[str, str], layout: str) -> dict[str, str]:
    """What ``export-source`` writes for a contract: the stored source
    files, by relative path (a multi bundle drops non-``.sol`` files)."""
    if layout == "multi":
        return {n: c for n, c in files.items() if n.endswith(".sol")}
    name = _SOURCE_FILE[layout]
    return {name: files[name]}


@dataclass
class TreeModel:
    """Expected outcome of ingesting a generated tree."""

    contracts: dict[str, tuple[str, dict[str, str]]] = field(default_factory=dict)
    dirs: int = 0
    duplicate_dirs: int = 0
    orphan_dirs: int = 0
    files: int = 0
    bytes: int = 0

    @property
    def contract_rows(self) -> int:
        return len(self.contracts)

    @property
    def function_rows(self) -> int:
        return sum(FUNCTION_ROWS[layout] for layout, _ in self.contracts.values())

    def export_ids(self, seed: int | str, n: int) -> list[str]:
        """A seeded stream of ``n`` lookups over the stored contract ids."""
        ids = sorted(self.contracts)
        rng = random.Random(seed)
        return [rng.choice(ids) for _ in range(n)]


def _exact_counts(total: int, weights: dict[str, int]) -> dict[str, int]:
    """Split ``total`` by ``weights`` exactly (largest remainder)."""
    scale = total / sum(weights.values())
    counts = {k: int(w * scale) for k, w in weights.items()}
    by_remainder = sorted(weights, key=lambda k: weights[k] * scale - counts[k], reverse=True)
    for k in by_remainder[: total - sum(counts.values())]:
        counts[k] += 1
    return counts


def write_tree(root: str, n_dirs: int, seed: int) -> TreeModel:
    """Write ``n_dirs`` contract directories under ``root`` and return
    the model of what the CLI must load from them.  The layout, duplicate
    and orphan counts are exact shares of ``n_dirs``, so every seed asks
    for the same work; the seed picks names, originals and order."""
    rng = random.Random(seed)
    templates = _template_files()
    n_orphans = round(ORPHAN_SHARE * n_dirs)
    n_dups = round(DUP_SHARE * n_dirs)
    layouts = [
        k for k, n in _exact_counts(n_dirs - n_dups - n_orphans, LAYOUT_WEIGHTS).items()
        for _ in range(n)
    ]
    rng.shuffle(layouts)
    model = TreeModel()
    dirs: list[dict[str, str]] = []
    uniques: list[tuple[str, dict[str, str]]] = []
    for i, layout in enumerate(layouts):
        tdir, names = _TEMPLATES[layout]
        files = {n: _rename(c, names, f"_{seed}_{i}") for n, c in templates[tdir]}
        model.contracts[content_id(files, layout)] = (layout, exported_files(files, layout))
        uniques.append((layout, files))
        dirs.append(files)
    for _ in range(n_dups):
        layout, original = rng.choice(uniques)
        crlf = rng.random() < 0.5
        files = {
            n: c if n == "metadata.json" else _variant(n, c, crlf)
            for n, c in original.items()
        }
        if content_id(files, layout) != content_id(original, layout):
            raise AssertionError(f"{layout} variant changed the content id")
        dirs.append(files)
    dirs += [{f"Orphan{i}.sol": f"contract Orphan{i} {{}}\n"} for i in range(n_orphans)]
    rng.shuffle(dirs)
    for i, files in enumerate(dirs):
        d = os.path.join(root, f"c{i:06d}")
        os.makedirs(d)
        for name, content in files.items():
            data = content.encode()
            with open(os.path.join(d, name), "wb") as fh:
                fh.write(data)
            model.files += 1
            model.bytes += len(data)
    model.dirs, model.duplicate_dirs, model.orphan_dirs = len(dirs), n_dups, n_orphans
    return model


def check_export(model: TreeModel, contract_id: str, out_dir: str) -> bool:
    """True iff ``out_dir`` holds exactly the contract's files, each equal
    to the model's content up to whitespace (a duplicate dir may have
    won the id, and duplicates differ only in whitespace)."""
    _, want = model.contracts[contract_id]
    got = {}
    for base, _, names in os.walk(out_dir):
        for name in names:
            path = os.path.join(base, name)
            with open(path, encoding="utf-8") as fh:
                got[os.path.relpath(path, out_dir)] = fh.read()
    if set(got) != set(want):
        return False
    return all(_WS.sub("", got[n]) == _WS.sub("", want[n]) for n in want)


def summary(model: TreeModel) -> dict:
    return {
        "dirs": model.dirs,
        "files": model.files,
        "bytes": model.bytes,
        "duplicate_dirs": model.duplicate_dirs,
        "orphan_dirs": model.orphan_dirs,
        "contracts": model.contract_rows,
        "functions": model.function_rows,
    }
