"""Lexicon-backed morphological analyzer.

Semantics parity: /root/reference/yargy/morph.py (Form/Grams model at
morph.py:27-109, analyzer protocol at :118-133).  pymorphy2 is not
installable in this environment, so the analyzer is a data-driven
dictionary lookup: ``word -> [Form(lemma, grams)]`` plus a paradigm
table ``lemma -> [(word, grams)]`` for re-inflection
(``Form.inflect``, morph.py:99-103 — fallback is the lemma itself).
The embedded lexicon (see ``lexicon.py``) is transcribed from the
reference's committed test assertions; at production scale the same
interface loads the full OpenCorpora dictionary as a broadcast
dimension table — the analyzer *is* the broadcast dict, replacing the
reference's 10k-entry LRU cache (morph.py:136-143).

Agreement-relevant grammeme views (gender/number/case) are precomputed
as small ints per Form so relation validation (relations/bank.py) is a
few bitwise ops.
"""

from __future__ import annotations

import sys
from typing import Dict, FrozenSet, Iterable, List, Optional, Set, Tuple

CASES = ('nomn', 'gent', 'datv', 'accs', 'ablt', 'loct', 'voct')

# grammeme categories for closest-form inflection: a target gram
# evicts same-category source grams (pymorphy2 updated_grammemes)
_INFLECT_CATEGORIES = (
    frozenset(CASES),
    frozenset(('sing', 'plur')),
    frozenset(('masc', 'femn', 'neut')),
)

# bit layout for the agreement mask
_G_MASC, _G_FEMN, _G_NEUT, _G_BI, _G_GNDR = 1, 2, 4, 8, 16
_N_SING, _N_PLUR, _N_SGTM, _N_PLTM = 1, 2, 4, 8

# OpenCorpora grammeme vocabulary (public tagset) — used by check_gram
# (morph.py:124-126; gram() predicate validates against it at
# predicates/bank.py:362-365).
KNOWN_GRAMMEMES: FrozenSet[str] = frozenset('''
NOUN ADJF ADJS COMP VERB INFN PRTF PRTS GRND NUMR ADVB NPRO PRED PREP
CONJ PRCL INTJ
anim inan
masc femn neut ms-f Ms-f GNdr
sing plur Sgtm Pltm Fixd
nomn gent datv accs ablt loct voct gen1 gen2 acc2 loc1 loc2
Abbr Name Surn Patr Geox Orgn Trad
Subx Supr Qual Apro Anum Poss V-ey V-oy Cmp2 V-ej
perf impf
tran intr Impe Impx Mult Refl
1per 2per 3per
pres past futr
indc impr
incl excl
actv pssv
Infr Slng Arch Litr Erro Dist Ques Dmns Prnt V-be V-en V-ie V-bi Fimp
Prdx Coun Coll V-sh Af-p Inmx Vpre Anph Init Adjx Hypo
LATN PNCT NUMB intg real ROMN UNKN
'''.split())


class Form:
    """One morphological reading: lemma + grammeme set.

    Equality is by (lemma, grams) like the reference Form record.
    """

    __slots__ = ('lemma', 'grams', 'gender_bits', 'number_bits',
                 'case_bits', 'case_fixed', '_morpho')

    def __init__(self, lemma: str, grams: FrozenSet[str], morpho=None):
        self.lemma = lemma
        self.grams = grams
        self._morpho = morpho

        g = 0
        if 'masc' in grams:
            g |= _G_MASC
        if 'femn' in grams:
            g |= _G_FEMN
        if 'neut' in grams:
            g |= _G_NEUT
        if 'ms-f' in grams or 'Ms-f' in grams:
            g |= _G_BI
        if 'GNdr' in grams:
            g |= _G_GNDR
        self.gender_bits = g

        n = 0
        if 'sing' in grams:
            n |= _N_SING
        if 'plur' in grams:
            n |= _N_PLUR
        if 'Sgtm' in grams:
            n |= _N_SGTM
        if 'Pltm' in grams:
            n |= _N_PLTM
        self.number_bits = n

        c = 0
        for i, case in enumerate(CASES):
            if case in grams:
                c |= (1 << i)
        self.case_bits = c
        self.case_fixed = 'Fixd' in grams

    # --- reference Grams views, for tests/goldens -------------------
    @property
    def is_single(self) -> bool:
        return bool(self.number_bits & (_N_SING | _N_SGTM))

    def inflect(self, grams: Optional[Iterable[str]] = None) -> str:
        """Re-inflect this reading's lexeme to the target grammemes;
        default target is {nomn, sing}; on failure return the lemma
        (morph.py:99-103)."""
        target = frozenset(grams) if grams else frozenset(('nomn', 'sing'))
        if self._morpho is not None:
            word = self._morpho.inflect(self.lemma, target, self.grams)
            if word is not None:
                return word
        return self.lemma

    def __repr__(self):
        return 'Form(%r, {%s})' % (self.lemma, ','.join(sorted(self.grams)))

    def __eq__(self, other):
        return (isinstance(other, Form)
                and self.lemma == other.lemma
                and self.grams == other.grams)

    def __hash__(self):
        return hash((self.lemma, self.grams))


def _interned(table, pool):
    """``table`` with one shared object per distinct gram set (via
    ``pool``) and per distinct string.  The generated dictionary
    repeats ~140 gram sets over ~39k readings; pickle writes a shared
    object once, so the broadcast bank and each worker's unpickled
    copy scale with the distinct values, not with the readings."""
    out = {}
    for key, rows in table.items():
        shared = []
        for text, grams in rows:
            grams = frozenset(grams)
            shared.append((sys.intern(text), pool.setdefault(grams, grams)))
        out[sys.intern(key)] = shared
    return out


class Morphology:
    """word -> readings lookup over an embedded/broadcast lexicon.

    ``entries``: word(lower) -> [(lemma, grams)]  (reading order is
    significant: forms[0] supplies ``normalized`` and ``inflect``).
    ``paradigms``: lemma -> [(word, grams)] rows for inflection.
    Unknown words get a single gram-less reading whose lemma is the
    lowercased surface (deterministic stand-in for pymorphy's
    out-of-vocabulary prediction).
    """

    def __init__(self,
                 entries: Dict[str, List[Tuple[str, FrozenSet[str]]]],
                 paradigms: Dict[str, List[Tuple[str, FrozenSet[str]]]],
                 predict_oov: bool = True):
        pool: Dict[FrozenSet[str], FrozenSet[str]] = {}
        self.entries = _interned(entries, pool)
        self.paradigms = _interned(paradigms, pool)
        self.predict_oov = predict_oov
        self._predictor = None  # built lazily; derived from entries
        self._form_memo: Dict[str, List[Form]] = {}

    def __getstate__(self):
        # the suffix table and form memo are derived data: keep them
        # out of broadcast pickles and rebuild on demand
        state = self.__dict__.copy()
        state['_predictor'] = None
        state['_form_memo'] = {}
        return state

    def _predict(self, word_lower: str):
        if self._predictor is None:
            from .predictor import SuffixPredictor
            self._predictor = SuffixPredictor(self.entries)
        return self._predictor.predict(word_lower)

    def __call__(self, word: str) -> List[Form]:
        # memoize Form lists per lowercased word: bitmask computation
        # in Form.__init__ dominates repeated lookups of common words
        # on the tokenize hot path, and Forms are immutable (constrain
        # builds new token-level lists, never mutates these).  The
        # memo doubles as the analyzer cache the reference keeps as a
        # 10k LRU (morph.py:136-143); bounded for adversarial
        # vocabularies.
        low = word.lower()
        forms = self._form_memo.get(low)
        if forms is None:
            readings = self.entries.get(low)
            if readings is None and self.predict_oov:
                # OOV: suffix-predicted readings (pymorphy2's
                # KnownSuffixAnalyzer behavior class, morph.py:118-130)
                readings = self._predict(low) or None
            forms = ([Form(lemma, grams, self)
                      for lemma, grams in readings]
                     if readings is not None
                     else [Form(low, frozenset(), self)])
            if len(self._form_memo) >= 200_000:
                self._form_memo.clear()
            self._form_memo[low] = forms
        return forms

    def normalized(self, word: str) -> Set[str]:
        """Set of lemmas over all readings (morph.py:132-133)."""
        return {form.lemma for form in self(word)}

    def check_gram(self, gram: str) -> None:
        if gram not in KNOWN_GRAMMEMES:
            raise ValueError(gram)

    def inflect(self, lemma: str, target: FrozenSet[str],
                source_grams: Optional[FrozenSet[str]] = None
                ) -> Optional[str]:
        """Paradigm row whose grammemes cover ``target``.

        With ``source_grams``, the row CLOSEST to the source reading
        wins — pymorphy2's ``Parse.inflect`` semantics (its
        ``_inflect`` + ``updated_grammemes``): source grammemes carry
        over unless a target gram of the same category evicts them,
        and candidate rows rank by grammeme overlap with that updated
        set.  A feminine ADJF re-inflected to {nomn, sing} therefore
        stays feminine ('первомайской' -> 'первомайская') instead of
        collapsing to the masculine lemma.  Ties break to the first
        paradigm row (deterministic; paradigm order mirrors
        pymorphy's frequency-ranked parse order)."""
        rows = self.paradigms.get(lemma)
        if not rows:
            return None
        if not source_grams:
            for word, grams in rows:
                if target <= grams:
                    return word
            return None
        evict = frozenset().union(*(
            cat for cat in _INFLECT_CATEGORIES if target & cat)) \
            if target else frozenset()
        updated = {g for g in source_grams if g not in evict} | target
        best, best_score = None, -1
        for word, grams in rows:
            if target <= grams:
                score = len(grams & updated)
                if score > best_score:
                    best, best_score = word, score
        return best

    @classmethod
    def from_rows(cls, entry_rows, paradigm_rows) -> 'Morphology':
        """Build from flat row iterables — the dictionary-as-data path
        a full OpenCorpora build drops into.

        ``entry_rows``:    (word, form_idx, lemma, grams:list)
        ``paradigm_rows``: (lemma, row_idx, word, grams:list)
        Row order within a word/lemma follows the *_idx column (the
        reading order contract: forms[0] supplies ``normalized``).
        """
        entries: Dict[str, list] = {}
        for word, idx, lemma, grams in sorted(
                entry_rows, key=lambda r: (r[0], r[1])):
            # lookups go through word.lower() (__call__); normalize
            # the key so capitalized dictionary surfaces stay reachable
            entries.setdefault(word.lower(), []).append(
                (lemma, frozenset(grams)))
        paradigms: Dict[str, list] = {}
        for lemma, idx, word, grams in sorted(
                paradigm_rows, key=lambda r: (r[0], r[1])):
            paradigms.setdefault(lemma, []).append(
                (word, frozenset(grams)))
        return cls(entries, paradigms)

    @classmethod
    def from_parquet(cls, entries_path: str,
                     paradigms_path: Optional[str] = None
                     ) -> 'Morphology':
        """Load a dictionary shipped as parquet (columns per
        ``from_rows``); pyarrow only — no Spark needed on the worker."""
        import pyarrow.parquet as pq

        def rows(path, cols):
            tbl = pq.read_table(path, columns=cols)
            return zip(*(tbl.column(c).to_pylist() for c in cols))

        return cls.from_rows(
            rows(entries_path, ['word', 'form_idx', 'lemma', 'grams']),
            rows(paradigms_path, ['lemma', 'row_idx', 'word', 'grams'])
            if paradigms_path else ())


_DEFAULT: Optional[Morphology] = None


def _load_generated() -> Optional[Morphology]:
    """Load the generated dictionary from package data.  Uses
    importlib.resources so it works both from a source checkout and
    from inside a ``--py-files`` zip on executors (a bare
    ``os.path`` join would silently miss inside a zipimport and
    downgrade workers to the small embedded lexicon)."""
    import io
    try:
        from importlib import resources
        data = resources.files('yargy_spark') / 'data'
        ent = data / 'lexicon_entries.parquet'
        if not ent.is_file():
            return None
        par = data / 'lexicon_paradigms.parquet'
        return Morphology.from_parquet(
            io.BytesIO(ent.read_bytes()),
            io.BytesIO(par.read_bytes()) if par.is_file() else None)
    except (ImportError, FileNotFoundError, OSError):
        return None


def default_morphology() -> Morphology:
    """Singleton: embedded reference-golden lexicon merged with the
    generated multi-thousand-lemma dictionary (tools/gen_lexicon.py,
    shipped as parquet under yargy_spark/data/).

    Embedded readings WIN on collision — they are transcribed from the
    reference's committed assertions and pin the golden semantics; the
    generated dictionary only widens coverage (plus feeds the OOV
    suffix predictor with realistic statistics)."""
    global _DEFAULT
    if _DEFAULT is None:
        from .lexicon import build_entries, build_paradigms
        entries, paradigms = build_entries(), build_paradigms()
        gen = _load_generated()
        if gen is not None:
            for word, readings in gen.entries.items():
                entries.setdefault(word, readings)
            for lemma, rows in gen.paradigms.items():
                paradigms.setdefault(lemma, rows)
        _DEFAULT = Morphology(entries, paradigms)
    return _DEFAULT
