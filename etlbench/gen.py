"""Seeded input generators for the benchmark.

Two input families, both pure Python (no Spark):

- FFI export XMLs built on ``tests/ffi_fixture`` (not modified): one
  export holds ``replicas`` copies of the fixture's plot block (plots,
  sample events, sample rows and data, attribute rows and data,
  projects) under one shared method catalogue. Every copy carries its
  own key suffix, so the loader's output rows scale linearly with
  ``replicas`` and :func:`expected_rows` states the per-table count
  without running Spark. An export whose replica range overlaps an
  earlier one's re-exports those keys under a new path: the upsert
  inserts only the replicas the warehouse has not seen.
- A ``documents`` corpus shaped like the repo's test data (doc_id,
  text, lang, source, n_chars), with a share of near-duplicate copies so
  the curation pipeline's dedup stage has clusters to find.

The seed picks key suffixes, value perturbations and row order; the same
arguments give byte-identical files.
"""

from __future__ import annotations

import os
import random
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests import ffi_fixture as fx  # noqa: E402

# rows shared by every replica of an export: the method catalogue and
# its lookups stay the fixture's
CATALOGUE_TAGS = (
    "Schema_Version",
    "RegistrationUnit",
    "Method",
    "MethodAttribute",
    "SampleAttribute",
    "LocalSpecies",
)
_CATALOGUE_GUIDS = {fx.RU1, fx.M1, fx.M2A, fx.M2B, fx.M3, fx.M4, fx.LS1, fx.LS2}
# per-export surrogate ids (joined within a file only)
_ROW_IDS = ("SR1", "SR2", "SR3", "SR4", "SR5") + tuple(
    f"AR{i}" for i in range(1, 8)
)

# loader output rows per replica, per warehouse table (one fixture block;
# checked against the real loader by tests/test_gen.py)
BASE_ROWS: dict[str, int] = {
    "MacroPlot": 1,
    "SampleEvent": 2,
    "ProjectUnit": 1,
    "ProjectVisit": 1,
    "PlotInfoWitTreesComments3_Attribute": 1,
    "PlotInfoWitTreesComments3_Sample": 1,
    "SurfaceFuels_Duff_Litter_Sample": 1,
    "SurfaceFuels_Fine_Attribute": 1,
    "SurfaceFuels_Fine_Metric_Attribute": 1,
    "SurfaceFuels_Fine_Metric_Sample": 1,
    "SurfaceFuels_Fine_Sample": 1,
    "Transect": 1,
    "Trees_Individuals_Attribute": 3,
    "Trees_Individuals_Sample": 1,
}

_TAG_RE = re.compile(r"^<(\w+)>")
_TEXT_RE = re.compile(r">([^<>]*)<")


def _fixture_rows() -> tuple[list[str], dict[str, list[str]], str, str]:
    """Split the fixture document into (catalogue rows, {tag: replica
    rows} in document order, header, footer)."""
    # the fixture is '<?xml ...?>', '<FFIData xmlns=...>', one row per
    # line, '</FFIData>', ''
    lines = fx.build_export_xml().split("\n")
    catalogue: list[str] = []
    block: dict[str, list[str]] = {}
    for line in lines[2:-2]:
        tag = _TAG_RE.match(line).group(1)
        if tag in CATALOGUE_TAGS:
            catalogue.append(line)
        else:
            block.setdefault(tag, []).append(line)
    return catalogue, block, "\n".join(lines[:2]) + "\n", "\n".join(lines[-2:])


def _replica_map(suffix: str) -> dict[str, str]:
    """Element text -> replaced text for one replica's keys."""
    m: dict[str, str] = {}
    for g in fx._UNIQ_GUIDS:
        if g in _CATALOGUE_GUIDS:
            continue
        new = f"{g}-{suffix}"
        for src, dst in ((g, new), (g.upper(), new.upper()), (g.lower(), new.lower())):
            m.setdefault(src, dst)
    for name in fx._UNIQ_NAMES:
        m[name] = f"{name}{suffix}"
    for rid in _ROW_IDS:
        m[rid] = f"{rid}x{suffix}"
    return m


def _perturb(line: str, rng: random.Random) -> str:
    """Seeded value jitter on fields no key or dedup rule reads: plot
    elevation, tree DBH and fine-fuel hit counts."""
    if line.startswith("<MacroPlot>"):
        return re.sub(
            r"<MacroPlot_Elevation>(\d+)<",
            lambda mo: f"<MacroPlot_Elevation>{int(mo.group(1)) + rng.randint(-50, 50)}<",
            line,
        )
    if line.startswith("<AttributeData>"):
        if "<AttributeData_MethodAtt_ID>13<" in line:
            return re.sub(
                r"<AttributeData_Value>([\d.]+)<",
                lambda mo: f"<AttributeData_Value>{float(mo.group(1)) + rng.randint(0, 40) / 10:.1f}<",
                line,
            )
        if re.search(r"<AttributeData_MethodAtt_ID>(24|28)<", line):
            return re.sub(
                r"<AttributeData_Value>(\d+)<",
                lambda mo: f"<AttributeData_Value>{int(mo.group(1)) + rng.randint(0, 9)}<",
                line,
            )
    return line


def export_xml(
    file_key: int, replicas: int, seed: int, variant: int = 0, first_replica: int = 0
) -> str:
    """One export document holding replicas ``first_replica`` ..
    ``first_replica + replicas - 1`` of ``file_key``. A replica's keys
    depend only on (seed, file_key, replica index), so exports whose
    replica ranges overlap share those keys (a re-export share), and
    ``variant`` re-draws values and row order."""
    catalogue, block, header, footer = _fixture_rows()
    keyrng = random.Random(f"keys:{seed}:{file_key}")
    salt = f"{keyrng.getrandbits(24):06x}"
    rng = random.Random(f"values:{seed}:{file_key}:{variant}:{first_replica}")
    maps = [
        _replica_map(f"{salt}f{file_key}r{r}")
        for r in range(first_replica, first_replica + replicas)
    ]
    out = [header, "\n".join(catalogue), "\n"]
    for tag, lines in block.items():
        order = list(range(replicas))
        rng.shuffle(order)
        rows = []
        for r in order:
            m = maps[r]
            for line in lines:
                line = _TEXT_RE.sub(lambda mo: f">{m.get(mo.group(1), mo.group(1))}<", line)
                rows.append(_perturb(line, rng))
        out.append("\n".join(rows))
        out.append("\n")
    out.append(footer)
    return "".join(out)


def write_exports(
    out_dir: str,
    specs: list[tuple[int, int, int]],
    replicas: int,
    seed: int,
    name_prefix: str = "export",
) -> list[str]:
    """Write one export per (file_key, variant, first_replica) spec as
    ``<prefix>_<i>.xml``; returns the paths in order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, (file_key, variant, first_replica) in enumerate(specs):
        path = os.path.join(out_dir, f"{name_prefix}_{i:04d}.xml")
        with open(path, "w") as f:
            f.write(export_xml(file_key, replicas, seed, variant, first_replica))
        paths.append(path)
    return paths


def expected_rows(new_replicas: int, n_files: int = 1) -> dict[str, int]:
    """Rows the loader inserts per table for ``n_files`` exports that
    each carry ``new_replicas`` replicas whose keys are not yet in the
    warehouse."""
    return {t: n * new_replicas * n_files for t, n in BASE_ROWS.items()}


# -- documents ---------------------------------------------------------------

# 4,900 two-syllable pseudo-words: unrelated documents share almost no
# word shingles, so every near-duplicate cluster is one the generator made
_VOCAB = [a + b for a in (c + v for c in "bdfgklmnprstvz" for v in "aeiou")
          for b in (c + v for c in "bdfgklmnprstvz" for v in "aeiou")]


def documents(n_docs: int, seed: int, n_sources: int = 20):
    """Rows (doc_id, text, lang, source, n_chars) whose dedup structure
    does not depend on the seed, so neither does the work: every tenth
    doc is a near-duplicate of the one before it (one word in twenty
    changed) and every fifth starts with one of four boilerplate lines of
    ten words. The seed draws the words, lengths (20-90 words) and
    languages."""
    rng = random.Random(f"docs:{seed}")
    boiler = [" ".join(rng.choice(_VOCAB) for _ in range(10)) for _ in range(4)]
    rows = []
    text = ""
    for i in range(n_docs):
        if i % 10 == 9:
            words = text.split()
            for _ in range(len(words) // 20):
                words[rng.randrange(len(words))] = rng.choice(_VOCAB)
        else:
            words = [rng.choice(_VOCAB) for _ in range(rng.randint(20, 90))]
            if i % 5 == 0:
                words = boiler[rng.randrange(4)].split() + words
        text = " ".join(words)
        rows.append(
            (i, text, rng.choice(("en", "en", "en", "de", "zh")),
             f"src{i % n_sources}", len(text))
        )
    return rows
