"""Seeded input generator for the benchmark workloads.

Pure Python (``random.Random(seed)``), independent of the package's own
fixtures, so a change to those fixtures can never change a workload. Each
``gen_*`` function returns plain rows plus the planted truth; ``run.py``
writes the rows to parquet and hands the program only the paths.

Name model: an entity is ``<brand> <industry> <suffix>``. Brands are
three-syllable pseudo-words drawn without replacement, so two unrelated
brands differ in most positions. Hard negatives are *sibling* entities
that share a brand: either a different industry word ("vexkalo bank" vs
"vexkalo foods") or only a different suffix ("vexkalo bank inc" vs
"vexkalo bank ltd"). A matcher cannot separate the suffix-only siblings
from a suffix-swapped variant, which is what keeps ``f1`` below 1.0.
"""

from __future__ import annotations

import datetime as dt
import random

SYLLABLES = (
    "ka lo mi ren tor vex zu bra qui dal nor pe sil tam ury fen gor hal jin mok "
    "pra sto vel wyn xa yor zen cor dun lis"
).split()
INDUSTRY = (
    "bank foods motors systems labs energy logistics capital health media "
    "airlines pharma textiles robotics insurance retail"
).split()
SUFFIX = "inc corp ltd llc group co holdings plc gmbh sa".split()
WORDS = (
    "the a report quarterly contract meeting invoice update status review "
    "plan budget team vendor client supply order shipment delivery account "
    "market price risk audit policy data system network service product "
    "launch project target growth margin revenue cost forecast region sales"
).split()


def _brands(rng: random.Random, n: int) -> list[str]:
    codes = rng.sample(range(len(SYLLABLES) ** 3), n)
    k = len(SYLLABLES)
    return [SYLLABLES[c // (k * k)] + SYLLABLES[(c // k) % k] + SYLLABLES[c % k] for c in codes]


def _typo(rng: random.Random, s: str) -> str:
    """One character edit inside the brand/industry body: drop, double or swap."""
    if len(s) < 5:
        return s
    k = rng.randrange(1, len(s) - 2)
    op = rng.randrange(3)
    if op == 0:
        return s[:k] + s[k + 1 :]
    if op == 1:
        return s[:k] + s[k] + s[k:]
    return s[:k] + s[k + 1] + s[k] + s[k + 2 :]


def _entities(rng: random.Random, n: int, sibling_share: float) -> list[tuple[str, str, str]]:
    """``n`` distinct (brand, industry, suffix) entities; about
    ``sibling_share`` of them are hard-negative siblings of another one."""
    n_sib = int(n * sibling_share)
    out = [(b, rng.choice(INDUSTRY), rng.choice(SUFFIX)) for b in _brands(rng, n - n_sib)]
    seen = set(out)
    while len(out) < n:
        b, ind, suf = out[rng.randrange(n - n_sib)]
        if rng.random() < 0.5:
            cand = (b, rng.choice([i for i in INDUSTRY if i != ind]), suf)
        else:
            cand = (b, ind, rng.choice([s for s in SUFFIX if s != suf]))
        if cand not in seen:
            seen.add(cand)
            out.append(cand)
    rng.shuffle(out)
    return out


def _surface(rng: random.Random, ent: tuple[str, str, str], *, typo: float, resuffix: float) -> str:
    """A surface variant: maybe a one-edit typo in the body, maybe another
    suffix, random casing/punctuation that normalization removes."""
    b, ind, suf = ent
    body = f"{b} {ind}"
    if rng.random() < typo:
        body = _typo(rng, body)
    if rng.random() < resuffix:
        suf = rng.choice([s for s in SUFFIX if s != suf])
    name = f"{body} {suf}"
    r = rng.random()
    if r < 0.25:
        name = name.title()
    elif r < 0.35:
        name = name.upper()
    if rng.random() < 0.2:
        name += "."
    return name


def gen_link(seed: int, n_entities: int, sibling_share: float = 0.2) -> dict:
    """Org tables x / y (one mention per entity each), an alias directory of
    2-4 aliases per entity, and the planted true (name_x, name_y) pairs."""
    rng = random.Random(seed * 1_000_003 + 11)
    ents = _entities(rng, n_entities, sibling_share)
    xs, ys, aliases, truth = [], [], [], []
    for i, ent in enumerate(ents):
        x = _surface(rng, ent, typo=0.0, resuffix=0.0)
        y = _surface(rng, ent, typo=0.4, resuffix=0.3)
        xs.append((i, x))
        ys.append((i, y))
        truth.append((x, y))
        cid = f"E{i:06d}"
        b, ind, suf = ent
        forms = {f"{b} {ind} {suf}", f"{b} {ind}", y.lower().rstrip(".")}
        if rng.random() < 0.5:
            forms.add(f"{b} {ind} {rng.choice(SUFFIX)}")
        for a in sorted(forms)[: rng.randint(2, 4)]:
            aliases.append((a, cid))
    return {"x": xs, "y": ys, "directory": aliases, "truth": truth}


def gen_transcripts(
    seed: int, n_reference: int, n_turns: int, occurrences: int = 30, sibling_share: float = 0.2
) -> dict:
    """Reference names, and transcripts ``(conv_id, turn_idx, role, text,
    tool, ts)`` whose mention turns carry ``[[variant]]`` markers. Every
    distinct variant appears in about ``occurrences`` turns. A tenth of the
    variants name entities that are not in the reference table (they should
    link to nothing).
    ``truth`` holds (conv_id, turn_idx, reference name) per linkable
    occurrence, ``pairs`` the distinct linkable (variant, reference name)."""
    rng = random.Random(seed * 1_000_003 + 23)
    ents = _entities(rng, n_reference + n_reference // 10, sibling_share)
    ref_ents, outside = ents[:n_reference], ents[n_reference:]
    reference = [f"{b} {ind} {suf}" for b, ind, suf in ref_ents]
    variants = []  # (surface, reference name or None)
    for ent, ref in zip(ref_ents, reference):
        variants.append((_surface(rng, ent, typo=0.5, resuffix=0.0), ref))
    for ent in outside:
        variants.append((_surface(rng, ent, typo=0.0, resuffix=0.0), None))
    n_mentions = min(len(variants) * occurrences, n_turns // 2)
    slots = rng.sample(range(n_turns), n_mentions)
    mention_at = {t: variants[j % len(variants)] for j, t in enumerate(slots)}
    rows, truth = [], []
    pairs = {v for v in mention_at.values() if v[1] is not None}
    t0 = dt.datetime(2026, 1, 1)
    conv, turn = 0, 0
    conv_len = rng.randint(4, 24)
    for t in range(n_turns):
        if turn == conv_len:
            conv, turn, conv_len = conv + 1, 0, rng.randint(4, 24)
        cid = f"c{conv:07d}"
        role = ("user", "assistant", "tool")[turn % 3]
        filler = " ".join(rng.choices(WORDS, k=rng.randint(3, 9)))
        if t in mention_at:
            name, ref = mention_at[t]
            text = f"{filler} [[{name}]] {rng.choice(WORDS)}"
            if ref is not None:
                truth.append((cid, turn, ref))
        else:
            text = filler
        rows.append((cid, turn, role, text, "search" if role == "tool" else "", t0 + dt.timedelta(seconds=t)))
        turn += 1
    return {"reference": [(r,) for r in reference], "transcripts": rows, "truth": truth, "pairs": pairs}


def gen_stream(seed: int, n_entities: int, n_batches: int, per_batch: int) -> dict:
    """Micro-batches of ``(mention_id, name)``. Batch 0 holds one canonical
    name per initial entity; each later batch mixes variants of entities
    seen so far with canonical names of entities new to the stream.
    ``truth`` maps every mention_id to its entity index."""
    rng = random.Random(seed * 1_000_003 + 37)
    ents = _entities(rng, n_entities, 0.1)
    n0 = n_entities // 2
    new_per_batch = (n_entities - n0) // max(n_batches - 1, 1)
    batches, truth, mid = [], {}, 0
    live = []
    for bi in range(n_batches):
        rows = []
        fresh = range(n0) if bi == 0 else range(
            n0 + (bi - 1) * new_per_batch, n0 + bi * new_per_batch
        )
        for e in fresh:
            rows.append((mid, "{} {} {}".format(*ents[e])))
            truth[mid] = e
            mid += 1
        live.extend(fresh)
        while bi > 0 and len(rows) < per_batch:
            e = rng.choice(live)
            rows.append((mid, _surface(rng, ents[e], typo=0.3, resuffix=0.0)))
            truth[mid] = e
            mid += 1
        rng.shuffle(rows)
        batches.append(rows)
    return {"batches": batches, "truth": truth}


def gen_corpus(seed: int, n_docs: int, twin_share: float = 0.1, boiler_share: float = 0.2) -> dict:
    """Documents ``(doc_id, text)``. A ``twin_share`` of docs get a planted
    near-duplicate (two word edits); a ``boiler_share`` carry one of a few
    shared boilerplate passages. ``twins`` are the planted (id_a < id_b)
    pairs; ``boiler`` maps passage index to the ids carrying ``passages``[i]."""
    rng = random.Random(seed * 1_000_003 + 53)
    vocab = [a + b for a in SYLLABLES for b in SYLLABLES]
    passages = [" ".join(rng.choices(vocab, k=24)) for _ in range(4)]
    n_base = int(n_docs / (1 + twin_share))
    docs, twins, boiler = [], [], {i: [] for i in range(len(passages))}
    for i in range(n_base):
        words = rng.choices(vocab, k=rng.randint(60, 140))
        if rng.random() < boiler_share:
            p = rng.randrange(len(passages))
            at = rng.randrange(len(words))
            words[at:at] = passages[p].split()
            boiler[p].append(i)
        docs.append((i, " ".join(words)))
    for j, src in enumerate(sorted(rng.sample(range(n_base), n_docs - n_base))):
        words = docs[src][1].split()
        for _ in range(2):
            words[rng.randrange(len(words))] = rng.choice(vocab)
        tid = n_base + j
        docs.append((tid, " ".join(words)))
        twins.append((src, tid))
        for ids in boiler.values():
            if src in ids:
                ids.append(tid)
    return {"docs": docs, "twins": twins, "boiler": boiler, "passages": passages}
