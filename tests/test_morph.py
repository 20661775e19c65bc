"""Morphology goldens — reference tests/test_morph.py."""

import pytest

from yargy_spark.morph import default_morphology


@pytest.fixture(scope='module')
def morph():
    return default_morphology()


def test_forms(morph):
    forms = morph('сирота')
    assert [(f.lemma, f.grams) for f in forms] == [
        ('сирота', frozenset({'ms-f', 'NOUN', 'anim', 'nomn', 'sing'}))]
    f = forms[0]
    assert f.gender_bits & 8        # bi-gender
    assert f.is_single
    assert not f.case_fixed
    assert morph.normalized('стали') == {'сталь', 'стать'}


def test_inflect(morph):
    form = morph('Александру')[0]
    assert 'Name' in form.grams
    assert form.inflect() == 'александр'
    assert form.inflect({'nomn', 'plur'}) == 'александры'


def test_unknown_word_fallback(morph):
    # OOV with NO matching dictionary suffix: gram-less stand-in
    forms = morph('вгрхь')
    assert len(forms) == 1
    assert forms[0].lemma == 'вгрхь'
    assert forms[0].grams == frozenset()
    assert forms[0].inflect() == 'вгрхь'
    # non-cyrillic OOV never predicts
    assert morph('qwerty')[0].grams == frozenset()


def test_oov_suffix_prediction(morph):
    """Unknown words with dictionary-shaped suffixes get predicted
    readings (pymorphy2 KnownSuffixAnalyzer behavior class,
    reference morph.py:118-130)."""
    # OOV feminine surname, oblique case
    forms = morph('Зубковой')
    assert any('Surn' in f.grams and 'femn' in f.grams for f in forms)
    assert forms[0].lemma == 'зубкова'
    # OOV masculine surname, instrumental
    forms = morph('Зюзиным')
    assert any('Surn' in f.grams and 'ablt' in f.grams for f in forms)
    assert forms[0].lemma == 'зюзин'
    # OOV first name, accusative
    forms = morph('Аделаиду')
    assert any('Name' in f.grams and 'accs' in f.grams for f in forms)
    assert forms[0].lemma == 'аделаида'


def test_oov_prediction_deterministic():
    """Two independently built analyzers predict identical readings
    in identical order (broadcast-rebuild safety)."""
    import pickle
    from yargy_spark.kernel.lexicon import build_entries, build_paradigms
    from yargy_spark.kernel.morphology import Morphology
    a = Morphology(build_entries(), build_paradigms())
    b = pickle.loads(pickle.dumps(a))
    for w in ('Зубковой', 'Зюзиным', 'Аделаиду', 'столяровой'):
        assert a(w) == b(w)


def test_generated_lexicon_loaded(morph):
    """default_morphology merges the generated parquet dictionary;
    embedded reference-golden readings win on collision."""
    assert len(morph.entries) > 10_000
    # generated-only word
    assert any('NOUN' in f.grams for f in morph('инженером'))
    # embedded golden preserved byte-for-byte ('стали' order contract)
    lemmas = [f.lemma for f in morph('стали')]
    assert lemmas == ['сталь'] * 5 + ['стать']


def test_check_gram(morph):
    morph.check_gram('NOUN')
    with pytest.raises(ValueError):
        morph.check_gram('verb')
    with pytest.raises(ValueError):
        morph.check_gram('UNK2')


def test_dictionary_as_data_roundtrip(tmp_path):
    """The full-dictionary path: dump the embedded lexicon to parquet,
    reload via Morphology.from_parquet, get identical analyses."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from yargy_spark.kernel.lexicon import (RAW, PARADIGM_RAW,
                                            lexicon_rows)
    from yargy_spark.kernel.morphology import (Morphology,
                                               default_morphology)

    rows = list(lexicon_rows())
    entries = pa.table({
        'word': [r[0] for r in rows],
        'form_idx': [r[1] for r in rows],
        'lemma': [r[2] for r in rows],
        'grams': [r[3] for r in rows],
    })
    prows = [(lemma, i, word, sorted(grams.split()))
             for lemma, prs in sorted(PARADIGM_RAW.items())
             for i, (word, grams) in enumerate(prs)]
    paradigms = pa.table({
        'lemma': [r[0] for r in prows],
        'row_idx': [r[1] for r in prows],
        'word': [r[2] for r in prows],
        'grams': [r[3] for r in prows],
    })
    ep, pp = str(tmp_path / 'e.parquet'), str(tmp_path / 'p.parquet')
    pq.write_table(entries, ep)
    pq.write_table(paradigms, pp)

    loaded = Morphology.from_parquet(ep, pp)
    ref = default_morphology()
    for word in RAW:
        assert loaded(word) == ref(word), word
        assert loaded.normalized(word) == ref.normalized(word)
    for lemma in PARADIGM_RAW:
        t = frozenset({'nomn', 'sing'})
        assert loaded.inflect(lemma, t) == ref.inflect(lemma, t)
    # out-of-vocabulary contract preserved
    assert [f.lemma for f in loaded('nosuchword')] == ['nosuchword']


def test_closest_form_inflection_preserves_gender():
    """pymorphy2 Parse.inflect parity: re-inflecting to {nomn, sing}
    keeps source grammemes (gender) that the target does not evict —
    a feminine ADJF stays feminine instead of collapsing to the
    masculine lemma; masculine/neuter sources keep theirs."""
    from yargy_spark.kernel.morphology import default_morphology
    M = default_morphology()
    cases = {
        'первомайской': 'первомайская',  # femn gent -> femn nomn
        'глухой': 'глухой',              # forms[0] is masc nomn
        'тихом': 'тихий',                # masc loct -> masc nomn
        'московским': 'московский',      # masc ablt -> masc nomn
    }
    for word, want in cases.items():
        assert M(word)[0].inflect({'nomn', 'sing'}) == want, word
    # explicit target gender still wins over the source's
    assert M('московским')[0].inflect({'nomn', 'femn'}) == 'московская'


def test_synth_lexemes_unique():
    """Scale-mode pseudo-lemmas must be collision-free: a duplicate
    lemma double-appends its paradigm rows and inflates the form
    counts the scale bench reports (found at n_base > the 3-syllable
    stem cycle of 8000)."""
    import os
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from tools.gen_lexicon import synth_lexemes, _SYNTH_SYLLABLES
    n_syl = len(_SYNTH_SYLLABLES)
    # genuinely cross the 3->4 syllable boundary (n_syl^3 = 39304 at
    # 34 syllables — an earlier revision of this test stopped at 9000
    # and never exercised the 4-syllable branch or the seen-set)
    lx = synth_lexemes(n_syl ** 3 + 300)
    lemmas = [lemma for lemma, _ in lx]
    assert len(lemmas) == len(set(lemmas))
    # the 4-syllable branch actually ran: some stems are 4 syllables
    # (8 chars of 2-char syllables or longer with 3-char ones)
    assert any(len(lemma) >= 9 for lemma, _ in lx[-600:])
    for lemma, rows in lx[:50]:
        assert rows, lemma
    with pytest.raises(ValueError):
        synth_lexemes(n_syl ** 4 + 1)


def test_default_lexicon_shares_gram_sets():
    """Readings are interned: across the default dictionary's entries
    and paradigms there is one gram-set object per distinct gram set,
    and one string object per distinct word and lemma."""
    from yargy_spark.kernel.morphology import default_morphology
    m = default_morphology()
    readings = [r for table in (m.entries, m.paradigms)
                for rows in table.values() for r in rows]
    grams = [g for _, g in readings]
    assert len({id(g) for g in grams}) == len(set(grams))
    texts = [t for t, _ in readings] + list(m.entries) + list(m.paradigms)
    assert len({id(t) for t in texts}) == len(set(texts))
