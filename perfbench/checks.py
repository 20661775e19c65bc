"""Driver-side reference computations and output checks.  Nothing here
runs inside a timed region.

* ``replay_mentions`` — ``CompiledBank.run`` replayed on the driver over
  a seeded sample of turns (the engine's JVM trigger prefilter is
  mirrored with Python's ``re``).
* ``reference_components`` — union-find over person mentions with the
  two blocking families the linker uses: global ``k#<norm_key>`` and
  conversation-local ``c#<conv_id>#<surname lemma>``.
* ``expected_triples`` — Σ|attrs| + #entities + #linked mentions.
* ``kernel_profile`` — the kernel layers decomposed over the sample
  through their public entry points.
"""

from __future__ import annotations

import re
import time

from pyspark.sql import functions as F

MENTION_KEY = ('conv_id', 'turn_idx', 'rule_id', 'span_start',
               'span_stop', 'norm_key', 'fact_json')


def compiled_bank():
    from yargy_spark.extractors import CompiledBank
    return CompiledBank()


def replay_mentions(bank, rows) -> set:
    """rows: iterable of (conv_id, turn_idx, text)."""
    trigger = re.compile(bank.trigger_regex)
    out = set()
    for conv, turn, text in rows:
        if not text or not trigger.search(text):
            continue
        for r in bank.run(text):
            out.add((conv, int(turn), r['rule_id'], r['span_start'],
                     r['span_stop'], r['norm_key'], r['fact_json']))
    return out


def engine_mentions(mentions, sample_keys) -> set:
    """The engine's mentions for the sampled (conv_id, turn_idx)."""
    rows = mentions.select(*MENTION_KEY).collect()
    return {tuple(r) for r in rows
            if (r['conv_id'], r['turn_idx']) in sample_keys}


def reference_components(rows) -> dict:
    """rows: iterable of (mention_id, conv_id, norm_key) -> mention_id
    -> component root."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    anchor = {}
    for mid, conv, key in rows:
        if key is None:
            continue
        parent.setdefault(mid, mid)
        parts = key.split('|')
        bkeys = ['k#' + key]
        if len(parts) > 1:
            bkeys.append('c#%s#%s' % (conv, parts[1]))
        for b in bkeys:
            a = anchor.setdefault(b, mid)
            ra, rm = find(a), find(mid)
            if ra != rm:
                parent[rm] = ra
    return {m: find(m) for m in parent}


def same_partition(ref: dict, engine: dict) -> bool:
    """Both map mention_id -> group label; equal iff they induce the
    same partition of the same mentions."""
    if ref.keys() != engine.keys():
        return False

    def groups(m):
        g = {}
        for k, v in m.items():
            g.setdefault(v, set()).add(k)
        return {frozenset(s) for s in g.values()}
    return groups(ref) == groups(engine)


def check_links(mention_rows, links) -> tuple:
    """-> (ok, n_entities).  ``links`` is (mention_id, entity_id, ...)."""
    ref = reference_components(mention_rows)
    eng = {r['mention_id']: r['entity_id']
           for r in links.select('mention_id', 'entity_id').collect()}
    n_ref = len(set(ref.values()))
    return (same_partition(ref, eng) and n_ref == len(set(eng.values())),
            n_ref)


def expected_triples(mentions, links) -> int:
    n_attrs = mentions.agg(F.sum(
        F.when(F.col('attrs').isNotNull(), F.size('attrs'))
        .otherwise(0))).collect()[0][0] or 0
    n_linked = links.count()
    n_entities = links.select('entity_id').distinct().count()
    return int(n_attrs) + n_entities + n_linked


def kernel_profile(bank, texts) -> dict:
    """Per-layer kernel costs over ``texts`` (driver side).  The
    kernel only sees turns passing the JVM trigger, so per-turn
    figures are over those turns.  A first pass fills the morphology
    memo the way a warm executor has it; the second is measured."""
    from yargy_spark.kernel.earley import ParseBudgetExceeded
    from yargy_spark.kernel.tokenize import TokenSpec
    trigger = re.compile(bank.trigger_regex)
    kernel_texts = [t for t in texts if t and trigger.search(t)]
    for text in kernel_texts:
        list(bank.run(text))
    pc = time.perf_counter
    acc = dict(tok=0.0, full=0.0, earley=0.0, interp=0.0, bank=0.0,
               states=0, interps=0, mentions=0, attempts=0, useful=0,
               budget_aborts=0, errors=0)
    for text in kernel_texts:
        stats = {}
        t0 = pc()
        acc['mentions'] += sum(1 for _ in bank.run(text, stats))
        acc['bank'] += pc() - t0
        acc['budget_aborts'] += stats.get('budget_aborts', 0)
        acc['errors'] += stats.get('errors', 0)
        tokens = None
        for _name, _ft, parser, _key, trig, _shares in bank.parsers:
            if trig is not None and not trig.search(text):
                continue
            acc['attempts'] += 1
            if tokens is None:
                t0 = pc()
                list(TokenSpec.__call__(parser.tokenizer, text))
                t1 = pc()
                tokens = parser.tokenize(text)
                acc['tok'] += t1 - t0
                acc['full'] += pc() - t1
            t0 = pc()
            try:
                matches = list(parser.findall(text, tokens=tokens))
            except ParseBudgetExceeded:
                continue
            acc['earley'] += pc() - t0
            chart = parser.chart(text, tokens=tokens)
            acc['states'] += sum(len(c.states) for c in chart.columns)
            t0 = pc()
            for m in matches:
                try:
                    m.tree.interpret()
                except TypeError:
                    pass
            acc['interp'] += pc() - t0
            acc['interps'] += len(matches)
            acc['useful'] += bool(matches)
    n = max(len(kernel_texts), 1)
    us = 1e6 / n
    return {
        'kernel.tokenize.us_per_turn': acc['tok'] * us,
        'kernel.morphology.us_per_turn':
            max(acc['full'] - acc['tok'], 0.0) * us,
        'kernel.earley.us_per_turn': acc['earley'] * us,
        'kernel.earley.chart_states_per_turn': acc['states'] / n,
        'kernel.interp.us_per_mention':
            acc['interp'] * 1e6 / max(acc['interps'], 1),
        'extractors.us_per_turn': acc['bank'] * us,
        'extractors.mentions_per_turn': acc['mentions'] / n,
        'extractors.trigger_pass_frac':
            len(kernel_texts) / max(len(texts), 1),
        'extractors.rule_useful_frac':
            acc['useful'] / max(acc['attempts'], 1),
        'extractors.budget_aborts': acc['budget_aborts'],
        'extractors.errors': acc['errors'],
    }


def pair_components(pairs) -> dict:
    """Union-find over (a, b) pairs -> node -> root."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    return {x: find(x) for x in parent}
