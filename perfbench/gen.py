"""Seeded input generation for the benchmark, with an on-disk cache.

Every workload's inputs (and the expected answers the checks compare
against) are a pure function of ``(workload, seed, size, GEN_VERSION)``.
They are generated once, untimed, into ``<work>/cache/<key>/`` and the
program under test only ever receives the generated files.

The seed

* remaps ``doc_id`` through a seeded affine permutation mod 2^31-1, which
  moves every hash geotag (lat/lon are a pure function of ``doc_id``),
* places the query centres and draws their sizes,
* picks the token woven into the text corpus.

Nothing here imports Spark or the library under test: inputs and
answers are independent of the code being measured.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump whenever a generator's output changes, so a stale cache entry is
# never reused
GEN_VERSION = 3

PRIME = 2_147_483_647  # 2^31 - 1

# (lat, lon) of the 8 hot "city" anchors the geotag model clusters 40% of
# pages around: NYC, London, Tokyo, Cape Town, Paris, Mexico City,
# San Francisco, Sao Paulo.
CITIES = np.array(
    [
        (40.7, -74.0), (51.5, -0.1), (35.7, 139.7), (-33.9, 18.4),
        (48.9, 2.4), (19.4, -99.1), (37.8, -122.4), (-23.5, -46.6),
    ]
)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose): adding a draw to one
    stream never shifts another stream's values."""
    key = [seed & 0xFFFFFFFF] + [ord(c) for c in stream]
    return np.random.default_rng(key)


# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------


def doc_ids(seed: int, n: int) -> np.ndarray:
    """n distinct doc_ids in [0, 2^31-1): i -> (a*i + b) mod p, a bijection
    for any a in [1, p). Every product stays below 2^62."""
    r = rng_for(seed, "doc_id")
    a = int(r.integers(2, PRIME - 1))
    b = int(r.integers(0, PRIME - 1))
    i = np.arange(n, dtype=np.int64)
    return (i * a + b) % PRIME


def geotag(doc_id: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Hash geotag of each doc: 40% within +-1 deg of a city anchor (the
    hot cells), 60% quasi-uniform over lat +-80, lon +-180, all on a
    1e-3-deg grid. Integer hashing, then one float division."""
    d = doc_id.astype(np.int64) % (1 << 30)
    h1 = d * 2654435761 + 40503
    h2 = d * 1597334677 + 57559
    city = (doc_id % 5) < 2
    anchor = CITIES[doc_id % 8]
    lat = np.where(
        city,
        anchor[:, 0] + (h1 % 2001) / 1000.0 - 1.0,
        (h1 % 160001) / 1000.0 - 80.0,
    )
    lon = np.where(
        city,
        anchor[:, 1] + (h2 % 2001) / 1000.0 - 1.0,
        (h2 % 360001) / 1000.0 - 180.0,
    )
    return lat, lon


def page_coords(seed: int, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_id, lat, lon) of the seed's first n pages."""
    ids = doc_ids(seed, n)
    return (ids, *geotag(ids))


def pages_table(seed: int, n: int) -> pa.Table:
    ids, lat, lon = page_coords(seed, n)
    url = pa.array([f"https://example.org/page/{i}" for i in ids.tolist()])
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "url": url,
            "lat": pa.array(lat, pa.float64()),
            "lon": pa.array(lon, pa.float64()),
        }
    )


def write_parquet_files(table: pa.Table, path: Path, n_files: int) -> None:
    """Split `table` row-wise into `n_files` parquet files (deterministic
    bytes: fixed split points, no threads, no timestamps)."""
    path.mkdir(parents=True)
    n = table.num_rows
    for f in range(n_files):
        lo, hi = n * f // n_files, n * (f + 1) // n_files
        pq.write_table(
            table.slice(lo, hi - lo), path / f"part-{f:05d}.parquet",
            compression="snappy",
        )


# ---------------------------------------------------------------------------
# query geometry
# ---------------------------------------------------------------------------

# Slots for the tag-rollup boxes, each in its own latitude band with at
# least 3 deg between bands (cities: centre +-2 deg; open areas: centre
# +-6.5 deg). A covering may over-cover by a cell of its coarsest level
# (~1.4 deg at level 6), and conservatively along the whole antimeridian
# at the box's latitudes, so only disjoint latitude bands guarantee
# disjoint coverings: every page then joins at most one region and the
# LEFT join keeps one row per page.
_CITY_SLOTS = [0, 1, 3, 5, 7]          # NYC, London, Cape Town, Mexico City, Sao Paulo
_OPEN_SLOTS = [(65.0, -140.0), (3.0, 10.0), (-52.0, -120.0)]


def rollup_boxes(seed: int) -> list[tuple[int, float, float, float, float]]:
    """6 disjoint (region_id, lat_lo, lat_hi, lon_lo, lon_hi) boxes: 3 on
    city clusters (half-size 0.3-1.5 deg), 3 in open areas (2-6 deg)."""
    r = rng_for(seed, "boxes")
    cities = r.choice(_CITY_SLOTS, size=3, replace=False)
    centres = [(CITIES[c][0], CITIES[c][1], 0.3, 1.5) for c in cities]
    centres += [(*slot, 2.0, 6.0) for slot in _OPEN_SLOTS]
    out = []
    for rid, (la, lo, h_min, h_max) in enumerate(centres):
        la += float(r.uniform(-0.5, 0.5))
        lo += float(r.uniform(-0.5, 0.5))
        h = float(np.exp(r.uniform(math.log(h_min), math.log(h_max))))
        out.append((rid, round(la - h, 3), round(la + h, 3), round(lo - h, 3), round(lo + h, 3)))
    return out


def _log_uniform(r: np.random.Generator, lo: float, hi: float) -> float:
    return float(np.exp(r.uniform(math.log(lo), math.log(hi))))


def _centre(r: np.random.Generator, hot: bool) -> tuple[float, float]:
    if hot:
        a = CITIES[int(r.integers(0, 8))]
        return (round(float(a[0] + r.uniform(-0.8, 0.8)), 4),
                round(float(a[1] + r.uniform(-0.8, 0.8)), 4))
    return (round(float(r.uniform(-60.0, 60.0)), 4), round(float(r.uniform(-170.0, 170.0)), 4))


QUERY_KINDS = ("box", "radius", "polygon", "knn")


def spatial_rounds(seed: int, n_rounds: int) -> list[list[dict]]:
    """`n_rounds` rounds, each one query of every kind in a seeded order.
    Half the queries (alternating per round) sit on a hot city anchor,
    half on sparse areas; sizes spread log-uniformly over 10x."""
    r = rng_for(seed, "queries")
    rounds = []
    for i in range(n_rounds):
        qs = []
        for j, kind in enumerate(QUERY_KINDS):
            hot = (i + j) % 2 == 0
            la, lo = _centre(r, hot)
            q = {"kind": kind, "hot": hot, "lat": la, "lon": lo}
            if kind == "box":
                q["half"] = round(_log_uniform(r, 0.1, 1.0), 4)
            elif kind == "radius":
                q["radius"] = round(_log_uniform(r, 0.1, 1.0), 4)
            elif kind == "polygon":
                q["rings"] = [star_ring(la, lo, _log_uniform(r, 0.2, 2.0), int(r.integers(6, 11)))]
            else:
                q["k"] = int(round(_log_uniform(r, 5, 50)))
            qs.append(q)
        order = r.permutation(len(qs))
        rounds.append([qs[k] for k in order])
    return rounds


def star_ring(lat: float, lon: float, radius: float, k: int) -> list[tuple[float, float]]:
    """Concave star polygon: 2k vertices alternating radius and radius/2,
    rounded to exact-ish decimals so both sides embed identical floats."""
    ring = []
    for v in range(2 * k):
        ang = math.pi * v / k
        rr = radius if v % 2 == 0 else radius / 2.0
        ring.append((round(lat + rr * math.cos(ang), 6), round(lon + rr * math.sin(ang), 6)))
    return ring


# ---------------------------------------------------------------------------
# text corpus
# ---------------------------------------------------------------------------

_WORD_SPLIT = re.compile("[^a-z0-9]+")


def _vocab(r: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out = set()
    while len(out) < n:
        k = int(r.integers(3, 9))
        out.add("".join(r.choice(letters, size=k)))
    return sorted(out)


def text_corpus(seed: int, n_base: int, replicas: int) -> tuple[dict[int, str], dict[int, str], list[tuple[int, int]]]:
    """(corpus, probes, planted) for the dedup workload.

    * `n_base` Zipf-worded base documents (30-90 words), 20% of them with
      1-3 lightly edited copies (1-5% of words replaced: the planted
      near-duplicates, Jaccard >= ~0.85);
    * every document replicated `replicas` times with a seeded tag token
      woven in after every 4th word, so replicas share ~40% of their
      3-gram shingles (the corpus grows without a near-dup clique per
      document);
    * probes: 40 passages, half copied from corpus documents and half
      fresh text, for the contamination report;
    * planted: (doc_a, doc_b) of edited copies in the same replica, a < b.
    """
    r = rng_for(seed, "text")
    vocab = _vocab(r, 4000)
    ranks = np.arange(1, len(vocab) + 1)
    p = 1.0 / ranks
    p /= p.sum()
    weave = "".join(r.choice(list("bcdfghjkmnpqrstvwxz"), size=2))
    base: list[list[str]] = []
    families: list[list[int]] = []
    for _ in range(n_base):
        n_words = int(r.integers(30, 91))
        words = [vocab[k] for k in r.choice(len(vocab), size=n_words, p=p)]
        fam = [len(base)]
        base.append(words)
        if r.random() < 0.2:
            for _ in range(int(r.integers(1, 4))):
                w = list(words)
                n_edit = max(1, int(len(w) * r.uniform(0.01, 0.05)))
                for pos in r.choice(len(w), size=n_edit, replace=False):
                    w[pos] = vocab[int(r.integers(0, len(vocab)))]
                fam.append(len(base))
                base.append(w)
        families.append(fam)
    ids = doc_ids(seed, len(base) * replicas)
    corpus: dict[int, str] = {}
    for rep in range(replicas):
        for b, words in enumerate(base):
            woven = [w if i % 4 != 3 else f"{w} {weave}{rep}" for i, w in enumerate(words)]
            corpus[int(ids[rep * len(base) + b])] = " ".join(woven)
    planted = []
    for fam in families:
        for rep in range(replicas):
            fam_ids = sorted(int(ids[rep * len(base) + b]) for b in fam)
            planted += [(a, b) for i, a in enumerate(fam_ids) for b in fam_ids[i + 1:]]
    probes: dict[int, str] = {}
    corpus_ids = sorted(corpus)
    for q in range(40):
        if q % 2 == 0:
            src = corpus[corpus_ids[int(r.integers(0, len(corpus_ids)))]].split(" ")
            lo = int(r.integers(0, max(1, len(src) - 20)))
            probes[q] = " ".join(src[lo: lo + 20])
        else:
            probes[q] = " ".join(vocab[k] for k in r.choice(len(vocab), size=20, p=p))
    return corpus, probes, planted


def words(text: str) -> list[str]:
    """The library's documented tokenization: lowercase, split on
    [^a-z0-9]+, drop empties."""
    return [w for w in _WORD_SPLIT.split(text.lower()) if w]


def shingles(text: str, n: int = 3) -> set[str]:
    ws = words(text)
    return {" ".join(ws[i: i + n]) for i in range(len(ws) - n + 1)}


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------


class InputCache:
    """Generated inputs under ``root/<key>``; a key is built once (into a
    temporary sibling, then renamed) and reused while its marker exists."""

    def __init__(self, root: Path, keep: int = 4):
        self.root = root
        self.keep = keep

    def get(self, key: str, build) -> Path:
        """Directory for `key`, calling ``build(tmp_dir)`` if absent."""
        final = self.root / key
        if (final / "_DONE").exists():
            return final
        tmp = self.root / f".{key}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(final, ignore_errors=True)
        tmp.mkdir(parents=True)
        build(tmp)
        (tmp / "_DONE").write_text(json.dumps({"key": key, "gen_version": GEN_VERSION}))
        tmp.rename(final)
        self._evict(key.split("-")[0])
        return final

    def _evict(self, prefix: str) -> None:
        """Keep only the `keep` most recently built entries of one kind:
        each run usually brings a new seed."""
        entries = sorted(
            (p for p in self.root.glob(f"{prefix}-*") if (p / "_DONE").exists()),
            key=lambda p: (p / "_DONE").stat().st_mtime,
        )
        for p in entries[: max(0, len(entries) - self.keep)]:
            shutil.rmtree(p, ignore_errors=True)
