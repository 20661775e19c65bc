"""Seeded input generator for the KG benchmark.

Every table is a pure function of ``(seed, params)``: names, facts and
documents come from one ``numpy.random.Generator`` seeded with the
workload seed, and parquet is written with fixed settings, so the same
seed gives byte-identical files.  Person names are drawn only from the
shipped lexicon (``yargy_spark/data/lexicon_paradigms.parquet``) with
first name and surname inflected to the same gender and case, because
out-of-vocabulary inflections carry no grammemes and would never
extract.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TURNS_PER_CONV = 8
CASES = ('nomn', 'gent', 'datv', 'accs', 'ablt', 'loct')
# (template, grammatical case the name is inflected to)
NAME_TEMPLATES = (
    ('{} выступил с докладом', 'nomn'),
    ('по словам {} всё готово', 'gent'),
    ('передайте {} документы', 'datv'),
    ('пригласите {} на встречу', 'accs'),
    ('договорились с {} заранее', 'ablt'),
    ('вопрос о {} закрыт', 'loct'),
)
MONTHS_GENT = ('марта', 'мая', 'июня', 'июля')
GEO_PHRASES = ('c Красной площади', 'на Первомайскую улицу',
               'в Чеченской республике', 'Донецкая народная республика',
               'Российская федерация')
TOOL_WORDS = ('status', 'ok', 'rows', 'none', 'result', 'cached', 'done',
              'query', 'error', 'empty', 'items', 'next', 'page', 'true')
BOILERPLATE = ('это сообщение создано автоматически и не требует ответа '
               'по всем вопросам обращайтесь в службу поддержки через '
               'личный кабинет или по телефону указанному на сайте '
               'благодарим за обращение и желаем хорошего дня')


@dataclass(frozen=True)
class Params:
    """Generator knobs; recorded verbatim in every run's report."""
    entities: int = 3000          # distinct (first, surname) people
    zipf_s: float = 1.1           # Zipf exponent over entity ranks
    hot_share: float = 0.05       # extra probability mass of rank 0
    name_share: float = 0.35      # turn kinds, per turn
    fact_share: float = 0.20
    tool_share: float = 0.15      # non-Cyrillic, trigger-dropped
    sibling_share: float = 0.3    # P(name turn uses a same-surname kin)
    exact_dup_rate: float = 0.10  # doc_dedup: exact copies per doc
    near_dup_rate: float = 0.10   # doc_dedup: one-word variants
    boiler_docs: int = 96         # > LSH_MAX_BUCKET near-identical docs
    increment_overlap: float = 0.5   # batch names already in the base
    bridge_convs: int = 16        # batch convs joining two base people


class Lexicon:
    """First-name and surname paradigms from the shipped parquet."""

    def __init__(self, root: str):
        rows = pq.read_table(os.path.join(
            root, 'yargy_spark', 'data',
            'lexicon_paradigms.parquet')).to_pylist()
        first, surn = {}, {}
        for r in rows:
            grams = set(r['grams'])
            if 'sing' not in grams:
                continue
            case = next((c for c in CASES if c in grams), None)
            if case is None:
                continue
            table = first if 'Name' in grams else (
                surn if 'Surn' in grams else None)
            if table is None:
                continue
            genders = [g for g in ('masc', 'femn') if g in grams]
            if 'ms-f' in grams:
                genders = ['masc', 'femn']
            for g in genders:
                table.setdefault(r['lemma'], {}).setdefault(
                    (g, case), r['word'])
        self.first = {g: sorted(l for l, f in first.items()
                                if all((g, c) in f for c in CASES))
                      for g in ('masc', 'femn')}
        self.surn = {g: sorted(l for l, f in surn.items()
                               if all((g, c) in f for c in CASES))
                     for g in ('masc', 'femn')}
        self.forms = {'first': first, 'surn': surn}
        self.filler = sorted({r['word'] for r in rows
                              if 'Name' not in r['grams']
                              and 'Surn' not in r['grams']})
        self.first_lemmas = len(first)
        self.surn_lemmas = len(surn)

    def surface(self, entity, case: str) -> str:
        first, last, g = entity
        return '%s %s' % (self.forms['first'][first][(g, case)].title(),
                          self.forms['surn'][last][(g, case)].title())


class Gen:
    def __init__(self, root: str, seed: int, params: Params = Params()):
        self.rng = np.random.default_rng(seed)
        self.p = params
        self.lex = Lexicon(root)
        self.entities, spare = self._entities(params.entities)
        ranks = np.arange(1, len(self.entities) + 1, dtype=float)
        w = ranks ** -params.zipf_s
        w = (1 - params.hot_share) * w / w.sum()
        w[0] += params.hot_share
        self.weights = w
        by_surn = {}
        for i, (_, last, g) in enumerate(self.entities):
            by_surn.setdefault((last, g), []).append(i)
        self.kin = {i: [j for j in by_surn[(e[1], e[2])] if j != i]
                    for i, e in enumerate(self.entities)}
        # bridge pairs: two people sharing a surname that no regular
        # entity carries, so in a base corpus they stay two entities
        # until one conversation mentions both
        self.bridges = []
        for k in range(params.bridge_convs):
            g = 'masc'
            last = spare[g][k % len(spare[g])]
            firsts = self.rng.choice(self.lex.first[g], size=2,
                                     replace=False)
            pair = []
            for first in firsts:
                pair.append(len(self.entities))
                self.entities.append((str(first), last, g))
            self.bridges.append(tuple(pair))

    def _entities(self, n):
        """Distinct (first lemma, surname lemma, gender); surnames are
        drawn from a small pool so several first names share one
        surname (conversation-local coreference has work to do).
        Returns the entities and, per gender, the unused surnames."""
        out, seen = [], set()
        rng, lex = self.rng, self.lex
        pools = {g: sorted(set(rng.choice(lex.surn[g], size=max(1, n // 8),
                                          replace=True)))
                 for g in ('masc', 'femn')}
        while len(out) < n:
            g = 'masc' if rng.random() < 0.6 else 'femn'
            e = (lex.first[g][rng.integers(len(lex.first[g]))],
                 pools[g][rng.integers(len(pools[g]))], g)
            if e not in seen:
                seen.add(e)
                out.append(e)
        spare = {g: sorted(set(lex.surn[g]) - set(pools[g]))
                 for g in pools}
        return out, spare

    def pool(self, ids):
        """A Zipf-weighted draw pool restricted to regular ``ids``."""
        ids = np.asarray(ids)
        w = self.weights[ids]
        return ids, w / w.sum()

    def draw_entity(self, pool=None) -> int:
        if pool is None:
            return int(self.rng.choice(len(self.weights), p=self.weights))
        if isinstance(pool, tuple):
            return int(self.rng.choice(pool[0], p=pool[1]))
        return int(pool[self.rng.integers(len(pool))])

    # -------------------------------------------------------- turns

    def _filler(self, lo=5, hi=11) -> str:
        n = int(self.rng.integers(lo, hi))
        idx = self.rng.integers(len(self.lex.filler), size=n)
        return ' '.join(self.lex.filler[i] for i in idx)

    def _fact(self) -> str:
        r, k = self.rng, int(self.rng.integers(4))
        if k == 0:
            return '%d %s %d' % (r.integers(1, 29),
                                 MONTHS_GENT[r.integers(4)],
                                 r.integers(1990, 2030))
        if k == 1:
            return '%d-%02d-%02d' % (r.integers(1990, 2030),
                                     r.integers(1, 13), r.integers(1, 29))
        if k == 2:
            return '%d тысяч$' % r.integers(2, 999)
        return GEO_PHRASES[r.integers(len(GEO_PHRASES))]

    def _tool(self) -> str:
        idx = self.rng.integers(len(TOOL_WORDS), size=6)
        w = [TOOL_WORDS[i] for i in idx]
        return '{"%s": "%s", "%s": "%s", "%s": "%s"}' % tuple(w)

    def name_turn(self, ent: int) -> str:
        tpl, case = NAME_TEMPLATES[self.rng.integers(len(NAME_TEMPLATES))]
        return tpl.format(self.lex.surface(self.entities[ent], case))

    def turn_kinds(self, n_convs: int) -> np.ndarray:
        """Per conversation, the kind of each of its 8 turns.  The
        shares are exact over the table (a seeded shuffle of a fixed
        multiset), so every seed gives the same amount of work."""
        p, n = self.p, n_convs * TURNS_PER_CONV
        counts = [round(s * n) for s in (p.name_share, p.fact_share,
                                         p.tool_share)]
        kinds = np.repeat(np.arange(4), counts + [n - sum(counts)])
        return self.rng.permutation(kinds).reshape(n_convs,
                                                   TURNS_PER_CONV)

    def conversation(self, kinds, pool=None, forced=()):
        """(role, text) turns of the given kinds (0 name, 1 fact,
        2 tool, 3 filler); ``forced`` entity ids are mentioned first,
        in order."""
        p, r = self.p, self.rng
        main = self.draw_entity(pool)
        forced = list(forced)
        turns = []
        for t, kind in enumerate(kinds):
            if forced:
                turns.append(('user', self.name_turn(forced.pop(0))))
            elif kind == 0:
                ent = main
                if self.kin[main] and r.random() < p.sibling_share:
                    ent = self.draw_entity(self.kin[main])
                turns.append(('user' if t % 2 == 0 else 'assistant',
                              self.name_turn(ent)))
            elif kind == 1:
                turns.append(('assistant', '%s %s' % (
                    self._filler(2, 5), self._fact())))
            elif kind == 2:
                turns.append(('tool', self._tool()))
            else:
                turns.append(('user', self._filler()))
        return turns

    def transcripts(self, convs, conv_offset: int = 0) -> pa.Table:
        """One conversation per ``(pool, forced)`` item of ``convs``
        (an int ``n`` means ``n`` conversations over all entities)."""
        if isinstance(convs, int):
            convs = [(None, ())] * convs
        cols = {k: [] for k in ('conv_id', 'turn_idx', 'role', 'text',
                                'tool', 'ts')}
        kinds = self.turn_kinds(len(convs))
        for c, (pool, forced) in enumerate(convs):
            for t, (role, text) in enumerate(
                    self.conversation(kinds[c], pool, forced)):
                cols['conv_id'].append('c%09d' % (conv_offset + c))
                cols['turn_idx'].append(t)
                cols['role'].append(role)
                cols['text'].append(text)
                cols['tool'].append('search' if role == 'tool' else None)
                cols['ts'].append(1_700_000_000_000_000
                                  + (conv_offset + c) * 3_600_000_000
                                  + t * 60_000_000)
        return pa.table({
            'conv_id': pa.array(cols['conv_id'], pa.string()),
            'turn_idx': pa.array(cols['turn_idx'], pa.int32()),
            'role': pa.array(cols['role'], pa.string()),
            'text': pa.array(cols['text'], pa.string()),
            'tool': pa.array(cols['tool'], pa.string()),
            'ts': pa.array(cols['ts'], pa.timestamp('us', tz='UTC')),
        })

    def increment(self, n_base: int, n_batch: int) -> tuple:
        """-> (base, batch) transcripts.  Regular entities split in two
        halves; the base draws from the first (which holds the hot
        entity), the batch from either half with probability
        ``increment_overlap`` for the first.  Each bridge person gets
        a base conversation of their own, and the batch opens with one
        conversation per bridge pair."""
        n = len(self.weights)
        old = self.pool(range(n // 2))
        new = self.pool(range(n // 2, n))
        singles = [(old, (e,)) for pair in self.bridges for e in pair]
        base = singles + [(old, ())] * (n_base - len(singles))
        batch = [(old, pair) for pair in self.bridges]
        batch += [(old if self.rng.random() < self.p.increment_overlap
                   else new, ()) for _ in range(n_batch - len(batch))]
        return (self.transcripts(base),
                self.transcripts(batch, conv_offset=n_base))

    # ------------------------------------------------------ mentions

    def mentions(self, n_convs: int, per_conv: int) -> pa.Table:
        """Person mentions in the extraction output schema, as the
        ``name`` extractor would emit them."""
        from yargy_spark.operators.extract import mention_id
        rows = {k: [] for k in (
            'conv_id', 'turn_idx', 'rule_id', 'fact_type', 'span_start',
            'span_stop', 'match_text', 'lemma_text', 'fact_json',
            'norm_key', 'attrs', 'fact_spans', 'mention_id')}
        r, p = self.rng, self.p
        for c in range(n_convs):
            conv = 'c%09d' % c
            main = self.draw_entity()
            for k in range(per_conv):
                ent = main
                if self.kin[main] and r.random() < p.sibling_share:
                    ent = self.draw_entity(self.kin[main])
                elif r.random() < 0.3:
                    ent = self.draw_entity()
                first, last, g = self.entities[ent]
                case = CASES[r.integers(len(CASES))]
                text = self.lex.surface(self.entities[ent], case)
                turn = k // 2
                start = 0 if k % 2 == 0 else 40
                stop = start + len(text)
                cut = text.index(' ')
                rows['conv_id'].append(conv)
                rows['turn_idx'].append(turn)
                rows['rule_id'].append('name')
                rows['fact_type'].append('Name')
                rows['span_start'].append(start)
                rows['span_stop'].append(stop)
                rows['match_text'].append(text)
                rows['lemma_text'].append('%s %s' % (first, last))
                rows['fact_json'].append(json.dumps(
                    {'first': first, 'last': last}, ensure_ascii=False,
                    sort_keys=True))
                rows['norm_key'].append('%s|%s' % (first, last))
                rows['attrs'].append([{'pred': 'first', 'obj': first},
                                      {'pred': 'last', 'obj': last}])
                rows['fact_spans'].append(
                    [{'start': start, 'stop': start + cut},
                     {'start': start + cut + 1, 'stop': stop}])
                rows['mention_id'].append(
                    mention_id(conv, turn, start, stop, 'name'))
        kv = pa.struct([('pred', pa.string()), ('obj', pa.string())])
        sp = pa.struct([('start', pa.int32()), ('stop', pa.int32())])
        types = {'turn_idx': pa.int32(), 'span_start': pa.int32(),
                 'span_stop': pa.int32(), 'attrs': pa.list_(kv),
                 'fact_spans': pa.list_(sp), 'mention_id': pa.int64()}
        return pa.table({k: pa.array(v, types.get(k, pa.string()))
                         for k, v in rows.items()})

    # ----------------------------------------------------- documents

    def documents(self, n_base: int) -> tuple:
        """-> (docs table, doc family ids, planted near-dup pairs,
        boilerplate doc ids).  Originals take the lowest ids so each
        exact group's representative is its original.  Exactly
        ``round(rate * n_base)`` originals get an exact copy, and as
        many a near-duplicate, so every seed gives the same counts."""
        p, r = self.p, self.rng
        texts, family = [], []
        for f, kinds in enumerate(self.turn_kinds(n_base)):
            turns = self.conversation(kinds)
            # long Cyrillic filler keeps unrelated documents far apart
            texts.append(' '.join(t for _, t in turns) + ' '
                         + self._filler(40, 60))
            family.append(f)
        exact = set(r.choice(n_base, round(p.exact_dup_rate * n_base),
                             replace=False).tolist())
        varied = set(r.choice(n_base, round(p.near_dup_rate * n_base),
                              replace=False).tolist())
        near = []
        for f in range(n_base):
            if f in exact:
                texts.append(texts[f])
                family.append(f)
            if f in varied:
                words = texts[f].split(' ')
                i = int(r.integers(len(words)))
                old = words[i]
                while words[i] == old:   # a no-op edit is an exact copy
                    words[i] = self.lex.filler[
                        int(r.integers(len(self.lex.filler)))]
                near.append((f, len(texts)))
                texts.append(' '.join(words))
                family.append(f)
        boiler_family = n_base
        boiler = []
        # distinct suffixes: near-identical, never exact, copies
        for i in r.choice(len(self.lex.filler), size=p.boiler_docs,
                          replace=False):
            boiler.append(len(texts))
            texts.append('%s номер %s' % (BOILERPLATE,
                                          self.lex.filler[int(i)]))
            family.append(boiler_family)
        docs = pa.table({
            'doc_id': pa.array(range(len(texts)), pa.int64()),
            'text': pa.array(texts, pa.string())})
        return docs, family, near, boiler


def write_parquet(table: pa.Table, path: str) -> str:
    """Deterministic parquet: one file, fixed row groups, no stats
    timestamps.  Returns the file's sha1 (same seed, same digest)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=8192,
                   compression='snappy')
    with open(path, 'rb') as f:
        return hashlib.sha1(f.read()).hexdigest()


def describe(params: Params, lex: Lexicon) -> dict:
    out = asdict(params)
    out['first_name_lemmas'] = lex.first_lemmas
    out['surname_lemmas'] = lex.surn_lemmas
    return out
