"""Seeded synthetic TCGA-shaped input for ``pipeline.run_pipeline``.

Writes a definition file plus one expression TSV per (sample, type), in
the reference's layout: a header row, then ``probe<TAB>value`` lines.
What is planted, so the prediction check is exact:

- every sample gets a tumorous/normal label from the seed; training
  samples carry it as ``diagnosis <sample> TN`` lines, predictive samples
  keep it as ground truth only;
- type ``t2`` holds a separable block of ``BLOCK`` probes, high on
  tumorous samples and low on normal ones. The block is mutually
  correlated, so the co-expression filter folds it into one component
  whose representative still separates the classes;
- type ``t1`` holds correlated triples (two scaled copies of a base
  probe), so the connected-components filter has components to merge;
- every other cell is uniform noise, and about 1/7 of the noise cells
  are missing, so ALS completion has work. Planted probes are never
  missing.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

TYPES = ("t1", "t2")
BLOCK = 4
TRIPLES = 4
PC_THRESHOLD = 0.8


@dataclass(frozen=True)
class LuadSize:
    train: int
    predict: int
    probes_per_type: int


@dataclass(frozen=True)
class LuadInput:
    def_file: str
    truth: dict[str, float]  # predictive sample -> planted label (±1.0)


def _probe(typ: str, i: int) -> str:
    return f"{typ}_p{i:04d}"


def _values(rng: random.Random, size: LuadSize, tumorous: bool) -> dict:
    """(type, probe) -> value or None (missing) for one sample."""
    out: dict[tuple[str, str], float | None] = {}
    n = size.probes_per_type
    for j in range(BLOCK):
        level = 0.3 if tumorous else 0.01
        out[("t2", _probe("t2", j))] = round(
            level * (1.0 + 0.1 * j) + rng.uniform(0.0, 0.005), 4
        )
    for k in range(TRIPLES):
        base = rng.uniform(0.001, 0.1)
        for c in range(3):
            out[("t1", _probe("t1", 3 * k + c))] = round(
                base * (1.0 + c) + rng.uniform(0.0, 0.0005), 4
            )
    for typ, first in (("t1", 3 * TRIPLES), ("t2", BLOCK)):
        for i in range(first, n):
            v = round(rng.uniform(0.001, 0.1), 4)
            out[(typ, _probe(typ, i))] = None if rng.random() < 1 / 7 else v
    return out


def write_luad_input(root: str, seed: int, size: LuadSize) -> LuadInput:
    """Write the definition file and TSVs under ``root`` (created)."""
    os.makedirs(root, exist_ok=True)
    rng = random.Random(seed)
    n = size.train + size.predict
    names = [f"S{i:04d}" for i in range(n)]
    rng.shuffle(names)
    train, predict = names[: size.train], names[size.train :]
    # balanced classes in both splits, so accuracy has a meaningful floor
    labels = {s: (i % 2 == 0) for i, s in enumerate(train)}
    labels.update({s: (i % 2 == 0) for i, s in enumerate(predict)})

    file_lines = []
    for s in sorted(names):
        cells = _values(rng, size, labels[s])
        for typ in TYPES:
            path = os.path.join(root, f"{s}_{typ}.quant.tsv")
            with open(path, "w") as f:
                f.write("probe_id\traw_count\n")
                for (t, p), v in cells.items():
                    if t == typ and v is not None:
                        f.write(f"{p}\t{v}\n")
            file_lines.append(f"{typ}\t{s}\t{path}\n")

    def_file = os.path.join(root, "input.txt")
    with open(def_file, "w") as f:
        f.write(f"def\toutput\t{root}/predictions_%s%.tsv\n")
        f.write(f"def\tpc-threshold\t{PC_THRESHOLD}\n")
        for typ in TYPES:
            f.write(f"def\tsample-type\t{typ}\n")
        for s in train:
            f.write(f"def\tsample\t{s}\n")
        for s in predict:
            f.write(f"def\tpredictive\t{s}\n")
        for s in train:
            if labels[s]:
                f.write(f"diagnosis\t{s}\tTN\n")
        f.writelines(file_lines)
    truth = {s: 1.0 if labels[s] else -1.0 for s in predict}
    return LuadInput(def_file, truth)
