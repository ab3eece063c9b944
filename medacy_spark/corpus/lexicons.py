"""Clinical gazetteers and unit vocabularies.

Vocabulary classes mirror the matcher families of the reference's
UnitOverlayer (``medacy/pipeline_components/feature_overlayers/unit_component.py:61-172``):
mass/volume/time units, frequency indicators, forms, routes — plus a drug
gazetteer standing in for the reference's LexiconOverlayer input
(``lexicon_component.py:14-26``) and an n2c2-2018-style tag set.

All lists are static and ordered; indices into them are part of the
deterministic corpus-generation contract (never reorder, only append).
"""

from __future__ import annotations

# Drug gazetteer (LexiconOverlayer-style {'Drug': [terms]}).
DRUGS = [
    "tylenol", "aspirin", "ibuprofen", "metformin", "lisinopril",
    "atorvastatin", "amoxicillin", "omeprazole", "warfarin", "insulin",
    "prednisone", "gabapentin",
]

# Multi-word drug surface forms (J8: the reference PhraseMatcher handles
# phrases up to 10 tokens, lexicon_component.py:37; real drug names are
# often 2-3 words). Two of these deliberately CONTAIN a unigram DRUGS
# member so overlapping phrase+unigram matches exercise the PhraseMatcher
# all-matches (not longest-only) semantics.
PHRASE_DRUGS = [
    "insulin glargine", "coated aspirin", "extended release metformin",
]

# Adverse events (n2c2 ADE class).
ADES = [
    "nausea", "rash", "dizziness", "headache", "vomiting",
    "fatigue", "hypotension", "bleeding",
]

# unit_component.py:61-69 (mass), 71-75 (volume).
MASS_UNITS = ["mg", "mcg", "g", "kg", "grams"]
VOLUME_UNITS = ["ml", "l", "dl"]

# unit_component.py:77-95 (time units, singular+plural).
TIME_UNITS = [
    "days", "weeks", "months", "hours", "day", "week", "month", "hour",
    "years", "year", "minutes", "minute",
]

# unit_component.py:97-108 (frequency indicators).
FREQUENCIES = ["daily", "bid", "tid", "qid", "prn", "weekly", "nightly", "hourly"]

# unit_component.py:111-130 (forms).
FORMS = ["tablet", "capsule", "pill", "injection", "spray", "patch", "drop"]

# unit_component.py:132-149 (routes).
ROUTES = ["po", "iv", "im", "orally", "subcutaneous", "topical", "intravenous"]

# All dosage units (Strength/Dose right-neighbors of a number).
DOSE_UNITS = MASS_UNITS + VOLUME_UNITS

# English stopwords for the language-ID / quality heuristics.
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "for", "was", "is",
    "on", "with", "at", "by", "from", "as", "that", "this", "it",
]

# Skewed host universe for synthetic urls — host 0 is deliberately hot
# (Zipf-ish) to exercise salted repartitioning (north rule).
HOSTS = [f"host{i}.example.com" for i in range(20)]


def gazetteer_rows() -> list[tuple[str, str]]:
    """(label, term) rows for the broadcast gazetteer join (J8)."""
    rows = [("Drug", t) for t in DRUGS]
    rows += [("ADE", t) for t in ADES]
    rows += [("Route", t) for t in ROUTES]
    rows += [("Frequency", t) for t in FREQUENCIES]
    rows += [("Form", t) for t in FORMS]
    return rows


def cui_dictionary_rows() -> list[tuple[str, str, list[str]]]:
    """(term, cui, sem_types) rows — synthetic UMLS/RxNorm-shaped linking
    dictionary (MetaMap candidate schema, metamap.py:237-264)."""
    rows = []
    for i, d in enumerate(DRUGS):
        rows.append((d, f"C{100000 + i:06d}", ["orch", "phsu"]))
    for i, a in enumerate(ADES):
        rows.append((a, f"C{200000 + i:06d}", ["sosy"]))
    for i, r in enumerate(ROUTES):
        rows.append((r, f"C{300000 + i:06d}", ["spco"]))
    # alias rows: alternate surface forms mapping to the same CUI
    rows.append(("acetaminophen", "C100000", ["orch", "phsu"]))  # = tylenol
    rows.append(("paracetamol", "C100000", ["orch", "phsu"]))
    rows.append(("glucophage", "C100003", ["orch", "phsu"]))  # = metformin
    return rows
