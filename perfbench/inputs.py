"""Seeded input generator for the three benchmark workloads.

Everything a workload feeds the program is derived here from one
integer seed: RSS feeds and their refreshes, episode transcripts with
planted entities, the ETL message stream, the Zipf-skewed dashboard
sessions and the curation corpus.  The seed changes content and order
only; counts and sizes are fixed, so two seeds do the same amount of
work.  Nothing here imports Spark: the harness turns these rows into
DataFrames, so the program sees only generated DataFrames and files.
"""

from __future__ import annotations

import datetime as dt
import email.utils
import math
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "game season player coach team trade draft score win loss quarter "
    "defense offense league playoff contract injury record stadium fans "
    "market price launch model data cloud chip phone startup funding "
    "album tour stage song crowd studio film review episode guest"
).split()

FIRST = "Alice Bruno Carla Diego Elena Farid Grace Hiro Ines Jonas".split()
LAST = "Johnson Smith Davis Okafor Tanaka Moreau Silva Novak Weber Khan".split()

TITLE_A = "Daily Weekly Deep Quick Open Late Early Hidden Loud Quiet".split()
TITLE_B = "Sports Tech Music Markets Science Stories Talk Review".split()


@dataclass(frozen=True)
class Item:
    link: str
    title: str
    description: str
    pub_date: str  # RFC 2822, as RSS carries it


@dataclass
class Podcast:
    title: str
    description: str
    items: list[Item] = field(default_factory=list)


def rss_doc(p: Podcast, items: list[Item]) -> dict:
    """One feed document in ``schemas.RSS_DOC`` shape."""
    return {
        "rss": {
            "channel": {
                "title": p.title,
                "description": p.description,
                "item": [
                    {
                        "title": i.title,
                        "description": i.description,
                        "pubDate": i.pub_date,
                        "enclosure": {"url": i.link},
                    }
                    for i in items
                ],
            }
        }
    }


def _item(rng: random.Random, slug: str, p: int, i: int) -> Item:
    day = dt.datetime(2023, 1, 2, tzinfo=dt.timezone.utc) + dt.timedelta(
        days=7 * i + rng.randint(0, 6), hours=rng.randint(0, 23)
    )
    return Item(
        link=f"https://feeds.example.org/{slug}/p{p}/e{i}.mp3",
        title=f"Episode {i}: " + " ".join(rng.choices(WORDS, k=4)),
        description=" ".join(rng.choices(WORDS, k=12)),
        pub_date=email.utils.format_datetime(day),
    )


def make_podcasts(
    rng: random.Random, n_podcasts: int, n_items: int, n_future: int
) -> list[Podcast]:
    """Podcasts with ``n_items`` published items plus ``n_future`` more
    that only a later feed refresh delivers (``items[n_items:]``)."""
    slug = f"{rng.getrandbits(32):08x}"
    out = []
    for p in range(n_podcasts):
        title = f"{rng.choice(TITLE_A)} {rng.choice(TITLE_B)} {p}"
        pod = Podcast(title, " ".join(rng.choices(WORDS, k=10)))
        pod.items = [_item(rng, slug, p, i) for i in range(n_items + n_future)]
        out.append(pod)
    return out


def transcript(rng: random.Random, n_sentences: int) -> str:
    """Sentences of vocabulary words; about half carry a planted
    two-word name, which the entity stand-in picks up."""
    out = []
    for _ in range(n_sentences):
        words = rng.choices(WORDS, k=rng.randint(6, 14))
        if rng.random() < 0.5:
            words.insert(rng.randrange(len(words) + 1), f"{rng.choice(FIRST)} {rng.choice(LAST)}")
        s = " ".join(words) + rng.choice(".....?!")
        out.append(s[0].upper() + s[1:])
    return " ".join(out)


def chunk_size(content: bytes, n_chunks: int) -> int:
    """Chunk byte size that splits ``content`` into ``n_chunks`` pieces."""
    return math.ceil(len(content) / n_chunks)


def zipf_pick(rng: random.Random, items: list, s: float = 1.1):
    """Pick from ``items`` with Zipf(s) weights by position."""
    weights = [1.0 / (k + 1) ** s for k in range(len(items))]
    return rng.choices(items, weights=weights, k=1)[0]


# --- curation corpus: the documents/embeddings tables the catalog reads

CORPUS_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()


CURATION_ROWS = {"documents": 500, "embeddings": 500}


def write_curation_tables(seed: int, out_dir: str, dim: int = 64) -> int:
    """Write ``documents.parquet`` and ``embeddings.parquet`` under
    ``out_dir`` in the catalog's table shapes and return the bytes
    written.  Documents are 10-100 uniform vocabulary words from 20
    sources; one in twenty is a near-duplicate (an earlier document
    plus the token ``dup``) and a few are exact copies.  Embeddings
    are unit vectors around ten seeded centres.  Row counts are
    ``CURATION_ROWS``."""
    n_docs, n_vecs = CURATION_ROWS["documents"], CURATION_ROWS["embeddings"]
    rng = np.random.default_rng(seed)
    vocab = np.array(CORPUS_WORDS)
    texts: list[str] = []
    for d in range(n_docs):
        if d >= 20 and d % 20 == 7:
            texts.append(texts[int(rng.integers(0, d))] + " dup")
        elif d >= 20 and d % 97 == 3:
            texts.append(texts[int(rng.integers(0, d))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
    langs = rng.choice(
        ["en", "zh", "es", "fr", "de"], size=n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]
    )
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": langs.tolist(),
            "source": [f"src{d % 20}" for d in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centres = rng.normal(size=(10, dim)) * 0.08
    labels = rng.integers(0, 10, n_vecs)
    vecs = centres[labels] + rng.normal(size=(n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    total = 0
    for name, tbl in (("documents", docs), ("embeddings", emb)):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total
