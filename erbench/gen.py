"""Seeded input generators for the benchmark workloads.

Every generator takes ``(seed, unit)`` and is a pure function of them:
unit ``i`` of every run with the same seed gets the same input, and no
two units share an input (LogicV2 keeps per-worker ``lru_cache``s, so a
repeated input measures cache luck, not the matcher).

The program under test sees only the files written here; the ground
truth returned next to them is made without any program code.
"""

from __future__ import annotations

import json
import os
import random
import struct

import numpy as np

# --- xref: FtM entity JSON with planted cross-dataset duplicates ---------

_ONSETS = ["b", "d", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v",
           "z", "ch", "sh", "br", "kr", "st", "tr", "gr"]
_VOWELS = ["a", "e", "i", "o", "u", "ya", "ei", "ou"]
_CODAS = ["", "", "n", "r", "s", "l", "v", "k", "m", "sk"]
_COUNTRIES = ["de", "fr", "ru", "ua", "us", "gb", "pl", "cz", "it", "es",
              "nl", "be", "at", "ch", "se", "no", "fi", "ee", "lv", "lt"]
_ORG_WORDS = ["holding", "trading", "capital", "energy", "logistics",
              "industrial", "shipping", "finance", "metals", "systems"]
_ORG_FORMS = ["llc", "ltd", "gmbh", "ooo", "sa", "ag", "plc", "bv"]
# Latin → Cyrillic spelling, longest keys first so digraphs win.
_CYR = [("shch", "щ"), ("ch", "ч"), ("sh", "ш"), ("ya", "я"), ("ei", "ей"),
        ("ou", "оу"), ("a", "а"), ("b", "б"), ("d", "д"), ("e", "е"),
        ("g", "г"), ("i", "и"), ("k", "к"), ("l", "л"), ("m", "м"),
        ("n", "н"), ("o", "о"), ("p", "п"), ("r", "р"), ("s", "с"),
        ("t", "т"), ("u", "у"), ("v", "в"), ("z", "з")]


def _word(rng: random.Random, syllables: int) -> str:
    w = "".join(
        rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(syllables)
    )
    return w + rng.choice(_CODAS)


def to_cyrillic(text: str) -> str:
    out, i = [], 0
    low = text.lower()
    while i < len(low):
        for lat, cyr in _CYR:
            if low.startswith(lat, i):
                out.append(cyr)
                i += len(lat)
                break
        else:
            out.append(low[i])
            i += 1
    return "".join(out)


def _typo(rng: random.Random, name: str) -> str:
    letters = [i for i, c in enumerate(name) if c.isalpha()]
    i = rng.choice(letters[1:] or letters)
    kind = rng.randrange(3)
    if kind == 0 and i + 1 < len(name) and name[i + 1].isalpha():
        return name[:i] + name[i + 1] + name[i] + name[i + 2:]
    if kind == 1:
        return name[:i] + name[i + 1:]
    return name[:i] + rng.choice("aeiouy") + name[i + 1:]


def _perturb_name(rng: random.Random, name: str) -> str:
    """One planted variant: a typo, reordered tokens, a dropped token or
    a Cyrillic spelling (the last exercises ``matching.translit``)."""
    tokens = name.split()
    kind = rng.randrange(4)
    if kind == 0:
        return " ".join(_typo(rng, t) if j == len(tokens) - 1 else t
                        for j, t in enumerate(tokens))
    if kind == 1:
        return " ".join(reversed(tokens))
    if kind == 2 and len(tokens) > 2:
        return " ".join(tokens[:1] + tokens[2:])
    return to_cyrillic(name)


def _person(rng: random.Random, eid: str, dataset: str) -> dict:
    tokens = [_word(rng, rng.randint(1, 2)).title()]
    if rng.random() < 0.4:
        tokens.append(_word(rng, 1).title())
    tokens.append(_word(rng, rng.randint(2, 3)).title())
    props = {
        "name": [" ".join(tokens)],
        "country": [rng.choice(_COUNTRIES)],
        "birthDate": [f"{rng.randint(1940, 2000)}-{rng.randint(1, 12):02d}"
                      f"-{rng.randint(1, 28):02d}"],
    }
    if rng.random() < 0.5:
        props["idNumber"] = [f"{rng.randrange(10**9):09d}"]
    return {"id": eid, "schema": "Person", "properties": props,
            "datasets": [dataset]}


def _company(rng: random.Random, eid: str, dataset: str) -> dict:
    name = " ".join(
        [_word(rng, rng.randint(2, 3)).title(),
         rng.choice(_ORG_WORDS).title(), rng.choice(_ORG_FORMS).upper()]
    )
    props = {
        "name": [name],
        "country": [rng.choice(_COUNTRIES)],
        "incorporationDate": [f"{rng.randint(1990, 2023)}-01-01"],
    }
    if rng.random() < 0.6:
        props["registrationNumber"] = [f"R{rng.randrange(10**8):08d}"]
    return {"id": eid, "schema": "Company", "properties": props,
            "datasets": [dataset]}


def _planted_copy(rng: random.Random, base: dict, eid: str,
                  dataset: str = "ds_b") -> dict:
    props = {k: list(v) for k, v in base["properties"].items()}
    props["name"] = [_perturb_name(rng, props["name"][0])]
    # the copy keeps its anchoring evidence only some of the time
    for key in ("idNumber", "registrationNumber"):
        if key in props and rng.random() < 0.5:
            del props[key]
    return {"id": eid, "schema": base["schema"], "properties": props,
            "datasets": [dataset]}


# ds_a entities with a planted copy, and unrelated ds_b entities, each as
# a share of the ds_a entities
DUP_SHARE = 0.3


def xref_shard(
    seed: int, unit: int, path: str, n_base: int
) -> set[tuple[str, str]]:
    """Write one shard of entity JSON lines to ``path``; return the
    planted duplicate pairs as ordered ``(min id, max id)`` tuples.

    ``n_base`` entities of dataset ``ds_a`` (60% Person, 40% Company);
    ``DUP_SHARE`` of them, picked at random, get a perturbed copy in
    ``ds_b``, and ``ds_b`` also holds as many unrelated entities again, so
    every shard has the same number of entities. Entity ids carry the
    unit number, so no id repeats across units."""
    rng = random.Random(f"xref:{seed}:{unit}")
    n_dup = round(DUP_SHARE * n_base)
    copied = set(rng.sample(range(n_base), n_dup))
    unrelated = set(rng.sample(range(n_base), n_dup))
    rows, truth = [], set()
    for i in range(n_base):
        make = _person if rng.random() < 0.6 else _company
        base = make(rng, f"u{unit}-a{i}", "ds_a")
        rows.append(base)
        if i in copied:
            copy = _planted_copy(rng, base, f"u{unit}-b{i}")
            rows.append(copy)
            truth.add(tuple(sorted((base["id"], copy["id"]))))
        if i in unrelated:
            make = _person if rng.random() < 0.6 else _company
            rows.append(make(rng, f"u{unit}-c{i}", "ds_b"))
    rng.shuffle(rows)
    with open(path, "w", encoding="utf-8") as fh:
        for row in rows:
            fh.write(json.dumps(row, ensure_ascii=False) + "\n")
    return truth


# --- ingest: text documents and media assets in a batch sequence ---------

_TEXT_VOCAB_SIZE = 4000
# media assets are random RGB images of this size
IMAGE_HEIGHT, IMAGE_WIDTH = 8, 9


def _doc_text(rng: random.Random, vocab: list[str], n_words: int) -> str:
    return " ".join(rng.choice(vocab) for _ in range(n_words))


def _near_copy(rng: random.Random, text: str, edits: int) -> str:
    words = text.split()
    for _ in range(edits):
        words[rng.randrange(len(words))] = f"edit{rng.randrange(10**6)}"
    return " ".join(words)


def _pixels(rng: np.random.Generator, h: int, w: int) -> np.ndarray:
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def encode_bmp(px: np.ndarray) -> bytes:
    """24-bit bottom-up BMP, rows padded to 4 bytes."""
    h, w, _ = px.shape
    row_bytes = (w * 3 + 3) // 4 * 4
    body = bytearray()
    for r in range(h - 1, -1, -1):
        row = px[r, :, ::-1].tobytes()
        body += row + b"\0" * (row_bytes - len(row))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                       2835, 2835, 0, 0)
    return header + info + bytes(body)


def encode_ppm(px: np.ndarray) -> bytes:
    h, w, _ = px.shape
    return f"P6\n{w} {h}\n255\n".encode() + px.tobytes()


class IngestSequence:
    """The seeded batch sequence of the ``ingest`` workload.

    Batch 0 is the base corpus. Every later batch is an upsert: new items
    plus changed-content re-ingests of a quarter as many live ones. One
    item is a text document, its two media assets and one FtM entity:
    the document may be a planted near-copy of a live one, the assets
    are a planted pair (the same pixels as BMP and as PPM, every third
    with one edited pixel), and a re-ingest edits both the text and the
    entity's name. The sequence keeps the live corpus in memory so the
    from-scratch checks and the truth come from it alone.
    """

    def __init__(self, seed: int, base_items: int, batch_items: int) -> None:
        self.seed = seed
        self.base_items, self.batch_items = base_items, batch_items
        vocab_rng = random.Random(f"vocab:{seed}")
        self.vocab = [_word(vocab_rng, 2) for _ in range(_TEXT_VOCAB_SIZE)]
        self.docs: dict[int, str] = {}
        self.assets: dict[int, bytes] = {}
        self.entities: dict[int, dict] = {}
        self.media_truth: set[tuple[int, int]] = set()
        self.next_id = 0

    def batch(self, batch: int) -> dict:
        """Advance the live corpus by one batch and return it as
        ``{"docs": [(id, text)], "assets": [(id, payload)],
        "entities": [entity json]}``; the assets of item ``i`` are
        ``2i`` and ``2i + 1``, its entity is ``e<i>``."""
        rng = random.Random(f"ingest:{self.seed}:{batch}")
        nprng = np.random.default_rng([self.seed, batch])
        out = {"docs": [], "assets": [], "entities": []}
        live = sorted(self.docs)
        if batch > 0:
            for item in sorted(rng.sample(live, self.batch_items // 4)):
                text = _near_copy(rng, self.docs[item], 4)
                entity = _planted_copy(rng, self.entities[item], f"e{item}",
                                       "ingest")
                self.docs[item], self.entities[item] = text, entity
                out["docs"].append((item, text))
                out["entities"].append(entity)
        n_new = self.base_items if batch == 0 else self.batch_items
        for _ in range(n_new):
            item = self.next_id
            self.next_id += 1
            pool = live or list(self.docs)
            if pool and rng.random() < 0.2:
                text = _near_copy(rng, self.docs[rng.choice(pool)], 2)
            else:
                text = _doc_text(rng, self.vocab, rng.randint(30, 60))
            make = _person if rng.random() < 0.6 else _company
            entity = make(rng, f"e{item}", "ingest")
            self.docs[item], self.entities[item] = text, entity
            out["docs"].append((item, text))
            out["entities"].append(entity)
            px = _pixels(nprng, IMAGE_HEIGHT, IMAGE_WIDTH)
            copy = px.copy()
            if item % 3 == 0:
                copy[0, 0, 0] ^= 0x80
            for aid, payload in ((2 * item, encode_bmp(px)),
                                 (2 * item + 1, encode_ppm(copy))):
                self.assets[aid] = payload
                out["assets"].append((aid, payload))
            self.media_truth.add((2 * item, 2 * item + 1))
        return out


# --- producers: a document corpus and an embedding table -------------------

_TOPICS = 8
_LANGS = ["en", "de", "fr", "ru", "zh"]


def producer_tables(seed: int, out_dir: str, n_docs: int,
                    n_vecs: int) -> None:
    """Write ``documents.parquet`` (doc_id, text, lang, source, n_chars)
    and ``embeddings.parquet`` (vec_id, 64-float embedding, label) in
    the layout of the package's test data. Documents draw most words
    from one of ``_TOPICS`` topic vocabularies, so the domain clusters
    have words to label them; embeddings are noisy copies of one of
    ``_TOPICS`` centres, so a vector's true neighbours share its label."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"producers:{seed}")
    topics = [[_word(rng, 2) for _ in range(40)] for _ in range(_TOPICS)]
    common = [_word(rng, 1) for _ in range(60)]
    docs = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for d in range(n_docs):
        topic = topics[rng.randrange(_TOPICS)]
        text = " ".join(rng.choice(topic if rng.random() < 0.6 else common)
                        for _ in range(rng.randint(20, 50)))
        for col, val in (("doc_id", d), ("text", text),
                         ("lang", rng.choice(_LANGS)),
                         ("source", f"src{rng.randrange(6)}"),
                         ("n_chars", len(text))):
            docs[col].append(val)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table(docs), os.path.join(out_dir, "documents.parquet"))
    nprng = np.random.default_rng([seed, 0x9E37])
    centres = nprng.normal(size=(_TOPICS, 64))
    labels = nprng.integers(0, _TOPICS, size=n_vecs)
    vecs = (centres[labels] + nprng.normal(scale=0.6, size=(n_vecs, 64))
            ).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
