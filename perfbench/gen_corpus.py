"""Seeded corpus generator for the end-to-end preset benchmark.

Writes the pipeline input (parquet: ``doc_id`` BIGINT, ``text`` STRING)
and, beside it, a ground-truth label file the pipeline never sees
(``labels.json``). The same (workload, seed) gives byte-identical files:
every random draw comes from one ``random.Random(seed)`` stream, row order
is fixed, and the parquet writer options are pinned.

English prose mixes the ``en`` stopwords of
``textstats.LANG_PROFILES`` with Zipfian pseudo-words; non-English docs
use that language's own profile words. Planted cases, each recorded in the
labels: exact copies, near-dup copies (~1% of words substituted), non-
English docs, PII strings (email + phone), script-mixed spam (a Cyrillic
tail past the language-ID prefix), a boilerplate paragraph (a key shared
across docs in paragraph dedup) and repetitive n-gram junk.

Usage: python3 perfbench/gen_corpus.py --workload fineweb_web --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# Function words per language: the same lists as
# textstats.LANG_PROFILES (copied so the generator runs without Spark).
FUNCTION_WORDS = {
    "en": "the and of to in is was that it for with are this have".split(),
    "fr": "le la les des du et est une dans que pour avec sur pas".split(),
    "es": "el los las del y es una en que por para con su como".split(),
    "de": "der die das und ist ein eine nicht mit von zu den auf".split(),
}
NON_EN = ("fr", "es", "de")
CYRILLIC = "абвгдежзийклмнопрстуфхцчшщыэюя"
ONSETS = "b c d f g h j k l m n p r s t v w z br cl dr fl gr pl st tr".split()
VOWELS = "a e i o u ai ea io ou".split()
CODAS = ["", "", "n", "r", "s", "l", "m", "t"]


@dataclass(frozen=True)
class Workload:
    preset: str  # configs/<preset>_preset.yaml
    n_base: int  # base documents before planted copies
    shards: int  # parquet files
    para_words: tuple[int, int]  # words per paragraph (min, max)
    paras: tuple[int, int]  # paragraphs per doc (min, max)
    vocab: int  # content pseudo-word vocabulary size
    zipf_s: float  # Zipf exponent of content words
    stop_p: float  # share of function words in running text
    non_en: float = 0.0  # share of base docs in fr/es/de
    near_dup: float = 0.0  # share of base docs given near-dup copies
    exact_dup: float = 0.0  # share of base docs given one exact copy
    pii: float = 0.0  # share of English docs carrying an email + phone
    spam: float = 0.0  # share of docs with a script-mixed tail
    boilerplate: float = 0.0  # share of docs ending in the shared paragraph
    junk: float = 0.0  # share of docs made of repeated phrases
    row_group_docs: int | None = None  # None = pyarrow default


WORKLOADS: dict[str, Workload] = {
    # MinHash, language cascade, script-mix, n-gram UDF and PII all run;
    # a small content vocabulary keeps tokenizer training light
    "fineweb_web": Workload(
        preset="fineweb", n_base=90, shards=16, para_words=(55, 90),
        paras=(4, 5), vocab=300, zipf_s=1.1, stop_p=0.4, non_en=0.3,
        near_dup=0.07, exact_dup=0.03, pii=0.1, spam=0.03, boilerplate=0.05,
    ),
    # one file, one row group: the scan is one split; ~10% of docs share
    # one boilerplate paragraph (a hot key in paragraph dedup)
    "c4_onefile": Workload(
        preset="c4", n_base=250, shards=1, para_words=(55, 90),
        paras=(4, 5), vocab=300, zipf_s=1.1, stop_p=0.4, non_en=0.2,
        near_dup=0.05, exact_dup=0.03, boilerplate=0.1, row_group_docs=1 << 30,
    ),
    # ~8 KB English docs over a wide, flat content vocabulary: the
    # driver-side BPE learner and the n-gram UDF weigh most; no language
    # filter
    "gopher_longvocab": Workload(
        preset="gopher", n_base=60, shards=4, para_words=(110, 160),
        paras=(9, 11), vocab=600, zipf_s=0.7, stop_p=0.35,
        near_dup=0.05, exact_dup=0.03, junk=0.08,
    ),
}


def _pseudo_vocab(rng: random.Random, n: int) -> list[str]:
    banned = {w for ws in FUNCTION_WORDS.values() for w in ws}
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(
            rng.choice(ONSETS) + rng.choice(VOWELS)
            for _ in range(rng.randint(1, 3))
        ) + rng.choice(CODAS)
        if len(w) >= 3 and w not in seen and w not in banned:
            seen.add(w)
            out.append(w)
    return out


class _Writer:
    """Sentence/paragraph/document prose over one language's words."""

    def __init__(self, rng: random.Random, wl: Workload, vocab: list[str]):
        self.rng = rng
        self.wl = wl
        self.vocab = vocab
        acc, self.cum = 0.0, []
        for r in range(1, len(vocab) + 1):
            acc += 1.0 / r**wl.zipf_s
            self.cum.append(acc)

    def words(self, lang: str, n: int) -> list[str]:
        rng, fw = self.rng, FUNCTION_WORDS[lang]
        out = []
        for _ in range(n):
            if rng.random() < self.wl.stop_p:
                out.append(rng.choice(fw))
            else:
                out.append(rng.choices(self.vocab, cum_weights=self.cum)[0])
        return out

    def paragraph(self, lang: str) -> str:
        ws = self.words(lang, self.rng.randint(*self.wl.para_words))
        sents, i = [], 0
        while i < len(ws):
            k = self.rng.randint(8, 16)
            s = ws[i : i + k]
            sents.append(" ".join([s[0].capitalize(), *s[1:]]) + ".")
            i += k
        return " ".join(sents)

    def doc(self, lang: str) -> list[str]:
        return [self.paragraph(lang) for _ in range(self.rng.randint(*self.wl.paras))]


def _near_copy(rng: random.Random, text: str, vocab: list[str]) -> str:
    """Substitute ~1% of the words (at least two): high Jaccard, new text."""
    toks = text.split(" ")
    for _ in range(max(2, len(toks) // 100)):
        i = rng.randrange(len(toks))
        tail = "." if toks[i].endswith(".") else ""
        toks[i] = rng.choice(vocab) + tail
    return " ".join(toks)


def _pick(rng: random.Random, pool: list[int], share: float) -> set[int]:
    """A fixed-size random subset: round(share * len(pool)), at least one
    when share > 0, so every planted case exists at every seed."""
    if share <= 0 or not pool:
        return set()
    return set(rng.sample(pool, min(len(pool), max(1, round(share * len(pool))))))


def generate(name: str, seed: int) -> tuple[list[dict], list[dict]]:
    """Return (rows, labels) for one workload and seed, in file order."""
    wl = WORKLOADS[name]
    rng = random.Random(f"{name}:{seed}")
    vocab = _pseudo_vocab(rng, wl.vocab)
    wr = _Writer(rng, wl, vocab)
    boiler = wr.paragraph("en")
    ids = list(range(wl.n_base))
    foreign = _pick(rng, ids, wl.non_en)
    junk = _pick(rng, [i for i in ids if i not in foreign], wl.junk)
    prose = [i for i in ids if i not in foreign and i not in junk]
    pii, spam, boilerplate = (_pick(rng, prose, s) for s in (wl.pii, wl.spam, wl.boilerplate))
    docs: list[dict] = []
    for i in ids:
        lab: dict = {"kind": "base", "lang": rng.choice(NON_EN) if i in foreign else "en"}
        paras = wr.doc(lab["lang"])
        if i in junk:
            # a handful of phrases repeated to fill the doc: fails the
            # Gopher top-n-gram and duplicate-n-gram ceilings
            lab["junk"] = True
            phrases = [" ".join(wr.words("en", 6)) for _ in range(3)]
            paras = [
                " ".join(rng.choice(phrases) + "." for _ in range(len(p) // 40))
                for p in paras
            ]
        if i in pii:
            user = f"{rng.choice(vocab)}{rng.randint(10, 999)}"
            email = f"{user}@{rng.choice(vocab)}.com"
            phone = f"{rng.randint(201, 989)}-{rng.randint(201, 989)}-{rng.randint(1000, 9999)}"
            k = rng.randrange(len(paras))
            paras[k] += f" Contact {user} at {email} or {phone} for the details."
            lab["pii"] = [email, phone]
        if i in spam:
            # past LANG_ID_PREFIX_CHARS, so the doc still reads as en and
            # reaches the script-mix filter
            paras.append(" ".join(
                "".join(rng.choice(CYRILLIC) for _ in range(rng.randint(4, 9)))
                for _ in range(160)
            ))
            lab["spam"] = True
        if i in boilerplate:
            paras.append(boiler)
            lab["boilerplate"] = True
        docs.append({"text": "\n\n".join(paras), "label": lab})

    # copies come from plain prose docs, so their originals are expected
    # to survive every filter and the copies measure dedup alone
    plain = [i for i in prose if i not in pii | spam | boilerplate]
    exact = _pick(rng, plain, wl.exact_dup)
    near = _pick(rng, [i for i in plain if i not in exact], wl.near_dup)
    copies: list[dict] = []
    for i in sorted(exact):
        copies.append({"text": docs[i]["text"], "label": {"kind": "exact_copy", "of": i}})
    for i in sorted(near):
        for _ in range(rng.randint(1, 3)):
            copies.append({
                "text": _near_copy(rng, docs[i]["text"], vocab),
                "label": {"kind": "near_copy", "of": i},
            })
    # originals take the smallest ids (min-id wins dedup); file order is
    # shuffled so copies do not sit beside their originals
    all_docs = docs + copies
    for doc_id, d in enumerate(all_docs):
        d["label"]["doc_id"] = doc_id
        d["label"].setdefault("lang", "en")
    rng.shuffle(all_docs)
    rows = [{"doc_id": d["label"]["doc_id"], "text": d["text"]} for d in all_docs]
    labels = sorted((d["label"] for d in all_docs), key=lambda x: x["doc_id"])
    return rows, labels


SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def write(name: str, seed: int, out_dir: str) -> dict:
    """Write ``out_dir/input/part-NNNNN.parquet`` and ``out_dir/labels.json``;
    return {"input": path, "labels": path, "docs": n}."""
    wl = WORKLOADS[name]
    rows, labels = generate(name, seed)
    in_dir = os.path.join(out_dir, "input")
    os.makedirs(in_dir, exist_ok=True)
    per = -(-len(rows) // wl.shards)
    for s in range(wl.shards):
        chunk = rows[s * per : (s + 1) * per]
        table = pa.Table.from_pylist(chunk, schema=SCHEMA)
        pq.write_table(
            table,
            os.path.join(in_dir, f"part-{s:05d}.parquet"),
            row_group_size=wl.row_group_docs,
            compression="snappy",
            write_statistics=True,
        )
    labels_path = os.path.join(out_dir, "labels.json")
    with open(labels_path, "w") as f:
        json.dump({"workload": name, "seed": seed, "docs": labels}, f, sort_keys=True)
    return {"input": in_dir, "labels": labels_path, "docs": len(rows)}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    print(json.dumps(write(a.workload, a.seed, a.out)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
