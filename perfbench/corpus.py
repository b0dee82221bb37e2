"""The benchmark's seeded input: a transcript corpus laid out as parquet files.

The corpus comes from ``coco_search_spark.fixtures.generate`` with the
seed, its entity names then mapped onto one fixed vocabulary
(VOCABULARY_SEED) unless the seed's own vocabulary is asked for. Conversations are co-located per file, the
way a bucketed table lays them out, because the engine's incremental
contract is file-granular. A patch rewrites one file the way a changed
partition lands: write a new file, ``os.replace`` it over the old one, then
delete the stale Hadoop ``.crc`` sidecar.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_CONVERSATIONS = 80
AVG_TURNS = 25
N_ENTITIES = 80
HOT_FRACTION = 0.05
N_FILES = 16
ROW_GROUP_ROWS = 256
# The entity vocabulary of the measured corpora: bench.py's fixture seed.
# The vocabulary sets how much linking and canonicalization work a build
# does (some seeds' vocabularies make it several times slower), so it is
# held fixed there and the seed varies everything else. The traced run
# also builds a small corpus under the seed's own vocabulary, so that cost
# is still measured.
VOCABULARY_SEED = 42


def _write(df: pd.DataFrame, path: str) -> None:
    tmp = path + ".tmp"
    # microsecond timestamps (Spark rejects TIMESTAMP(NANOS)); small row
    # groups keep each file splittable
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        tmp,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
        row_group_size=ROW_GROUP_ROWS,
    )
    os.replace(tmp, path)
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _renamer(old: list, new: list):
    """Text -> text with every alias of ``old[k]`` replaced by the alias of
    the same form (snake, camel, Pascal) of ``new[k]``."""
    table = {a: b for o, n in zip(old, new) for a, b in zip(o.aliases, n.aliases)}
    pattern = re.compile(r"\b(" + "|".join(sorted(map(re.escape, table), key=len, reverse=True)) + r")\b")
    return lambda text: pattern.sub(lambda m: table[m.group(1)], text)


@dataclass
class Corpus:
    files: list[str]
    parts: list[pd.DataFrame]
    catalog_path: str
    entities: list

    @classmethod
    def generate(
        cls,
        root: str,
        seed: int,
        own_vocabulary: bool = False,
        n_conversations: int = N_CONVERSATIONS,
        n_files: int = N_FILES,
    ) -> "Corpus":
        from coco_search_spark import fixtures

        fx = fixtures.generate(
            n_conversations=n_conversations,
            avg_turns=AVG_TURNS,
            n_entities=N_ENTITIES,
            seed=seed,
            hot_fraction=HOT_FRACTION,
        )
        entities, transcripts = fx.entities, fx.transcripts
        if not own_vocabulary:
            entities = fixtures.build_entities(N_ENTITIES, np.random.default_rng(VOCABULARY_SEED))
            transcripts = transcripts.assign(
                text=transcripts["text"].map(_renamer(fx.entities, entities))
            )
        data_dir = os.path.join(root, "transcripts")
        os.makedirs(data_dir)
        convs = sorted(transcripts["conv_id"].unique())
        blocks = np.array_split(np.array(convs), n_files)
        files, parts = [], []
        for i, block in enumerate(blocks):
            part = transcripts[transcripts["conv_id"].isin(set(block))]
            part = part.reset_index(drop=True)
            path = os.path.join(data_dir, f"part-{i:05d}.parquet")
            _write(part, path)
            files.append(path)
            parts.append(part)
        catalog_path = os.path.join(root, "catalog.parquet")
        pq.write_table(
            pa.Table.from_pandas(fixtures.entity_catalog_pdf(entities), preserve_index=False),
            catalog_path,
        )
        return cls(files, parts, catalog_path, entities)

    @property
    def data_dir(self) -> str:
        return os.path.dirname(self.files[0])

    def frame(self) -> pd.DataFrame:
        return pd.concat(self.parts, ignore_index=True)

    def input_bytes(self) -> int:
        return sum(os.path.getsize(f) for f in self.files)

    def patched(self, i: int, rng: np.random.Generator) -> pd.DataFrame:
        """File ``i`` with every conversation changed: a marker appended to
        each turn, and in one seeded turn a relation sentence between two
        existing entity aliases. The vocabulary is unchanged, so the link
        and canonicalization reuse gates can hold."""
        part = self.parts[i].copy()
        part["text"] = part["text"] + " deltapatch marker"
        row = int(rng.integers(len(part)))
        subj, obj = (self.alias(rng) for _ in range(2))
        part.loc[row, "text"] = part.loc[row, "text"] + f" {subj} depends on {obj} ."
        return part

    def alias(self, rng: np.random.Generator) -> str:
        ent = self.entities[int(rng.integers(len(self.entities)))]
        return ent.aliases[int(rng.integers(len(ent.aliases)))]

    def replace(self, i: int, df: pd.DataFrame) -> None:
        _write(df, self.files[i])
        self.parts[i] = df
