"""Stage 2 — mention + acronym extraction (C2/C3/C4, P2/P3/P5).

Replaces the reference's spaCy EntityRuler + scispacy AbbreviationDetector +
LLM glossary parse (src/ner.py, src/acronyms.py, src/pipeline.py:57-95) with
deterministic, Arrow-batched pandas UDFs:

- C4 dictionary NER: an Aho-Corasick automaton over the broadcast pattern
  dictionary (entity dict surfaces + per-doc acronym short/long forms + UNBIS
  terms), case-insensitive with word boundaries, leftmost-longest
  non-overlapping match — reproducing the spaCy EntityRuler's phrase-matcher
  overwrite semantics (ref src/ner.py:57-99). Linear in text length, unlike
  the reference's O(chunks x entities) containment scan (src/storage.py:201-210).
- C2 inline acronyms: the Schwartz-Hearst algorithm (the same published
  algorithm scispacy's AbbreviationDetector implements; ref
  src/acronyms.py:111-122 harvests its output).
- C3 glossary acronyms: deterministic surrogate for the LLM parse — detect
  glossary chunks via header_path (ref src/acronyms.py:29-33 retrieves
  'Abbreviations'-like sections) and regex-parse 'ABBR <sep> Definition'
  lines.
- A2 merge (primary=glossary wins, ref src/acronyms.py:125-147),
  P5 clean (len>=2 + >=50% uppercase + html.unescape; reproduces the
  reference's `11 > len(abbr) < 2` chained-comparison bug, which only
  enforces the lower bound — src/acronyms.py:176),
  P2 excluded-label filter (src/ner.py:20-22),
  P3 SPARQL sanitize filter chain (src/utils.py:4-42).
"""

from __future__ import annotations

import html as _html
import re
import unicodedata
from collections.abc import Iterator
from typing import Dict, Iterable, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wbkg.schemas import ACRONYMS, MENTIONS

EXCLUDED_ENTS = [  # ref src/ner.py:20-22
    "DATE", "TIME", "PERCENT", "MONEY", "QUANTITY", "ORDINAL", "CARDINAL", "PERSON",
]

GLOSSARY_HEADER_RE = re.compile(r"(?i)abbreviation|acronym")
# 'ABBR — Definition' | 'ABBR - Definition' | 'ABBR: Definition' | 'ABBR<TAB>Definition'
GLOSSARY_LINE_RE = re.compile(
    r"^\s*([A-Z][A-Za-z0-9&./-]{1,15})\s*(?:—|–|-{1,2}|:|\t)\s+(.+?)\s*$"
)

_WORD_CHAR_RE = re.compile(r"[\w]")


def normalize_surface(s: str) -> str:
    """lower + accent-fold + whitespace collapse (join key; cf. ref
    src/graph.py:141-149 unidecode sanitize + src/linker.py:86 lowering).

    ASCII fast path: NFKD is the identity and no combining marks exist, so
    the per-char fold is skipped — ~2x the whole extraction stage on
    mostly-ASCII corpora (profiled: the fold was ~50% of extraction CPU).
    Mixed text folds only its NON-ASCII runs (a regex sub with a
    per-run NFKD + mark-strip callback): ASCII characters are
    NFKD-invariant and never combining marks, and canonical reordering
    only permutes marks we delete anyway, so run-local folding is
    character-for-character identical to folding the whole string —
    while the common mostly-ASCII chunk pays the fold only on its few
    accented islands (profiled ~4x faster than whole-string
    NFKD + translate on the bench corpus)."""
    if s.isascii():
        return " ".join(s.lower().split())
    s = _NONASCII_RUN_RE.sub(_fold_nonascii_run, s)
    return " ".join(s.lower().split())


_COMBINING_TABLE: dict | None = None
_NONASCII_RUN_RE = re.compile(r"[^\x00-\x7f]+")


def _fold_nonascii_run(m: "re.Match") -> str:
    return unicodedata.normalize("NFKD", m.group()).translate(
        _combining_deletion_table()
    )


def _combining_deletion_table() -> dict:
    """str.translate deletion table for all combining codepoints — built once
    per process; C-speed strip instead of a per-char Python genexpr (which
    profiled at ~half the non-ASCII normalize cost)."""
    global _COMBINING_TABLE
    if _COMBINING_TABLE is None:
        # full codepoint sweep: ~0.2s once per process, exact semantics
        _COMBINING_TABLE = {
            cp: None for cp in range(0x110000) if unicodedata.combining(chr(cp))
        }
    return _COMBINING_TABLE


def sanitize_for_sparql(entity: str) -> Optional[str]:
    """Port of ref src/utils.py:4-42 (P3 filter chain), rule for rule."""
    if not entity:
        return None
    entity = entity.strip()
    entity = re.sub(r"[{}\\\\]", "", entity)
    entity = re.sub(r"\s+", " ", entity)
    if re.search(r"</?\w+>", entity):
        return None
    if re.fullmatch(r"[\d\W]+", entity):
        return None
    if len(re.sub(r"[^A-Za-z0-9]", "", entity)) < 2:
        return None
    if not any(ch.isalpha() for ch in entity):
        return None
    if len(entity) < 2 or len(entity) > 200:
        return None
    return entity.replace('"', '\\"')


# --------------------------------------------------------------------------- #
# Aho-Corasick automaton (C4)                                                  #
# --------------------------------------------------------------------------- #


class AhoCorasick:
    """Case-insensitive multi-pattern matcher with word boundaries and
    leftmost-longest non-overlapping selection.

    Standard Aho-Corasick (public algorithm); built once per executor from the
    broadcast pattern dict, reused across Arrow batches.
    """

    def __init__(self, patterns: Iterable[Tuple[str, str, str]]):
        """patterns: (phrase, label, rule_id). Matching is on lowercase text."""
        self.goto: List[Dict[str, int]] = [{}]
        self.out: List[List[Tuple[int, str, str]]] = [[]]  # (pattern_len, label, rule_id)
        self.fail: List[int] = [0]
        seen = set()
        for phrase, label, rule_id in patterns:
            p = normalize_surface(phrase)
            if not p or (p, label) in seen:
                continue
            seen.add((p, label))
            node = 0
            for ch in p:
                nxt = self.goto[node].get(ch)
                if nxt is None:
                    nxt = len(self.goto)
                    self.goto[node][ch] = nxt
                    self.goto.append({})
                    self.out.append([])
                    self.fail.append(0)
                node = nxt
            self.out[node].append((len(p), label, rule_id))
        self._build_failure()

    def _build_failure(self):
        from collections import deque

        q = deque()
        for ch, nxt in self.goto[0].items():
            self.fail[nxt] = 0
            q.append(nxt)
        while q:
            r = q.popleft()
            for ch, nxt in self.goto[r].items():
                q.append(nxt)
                f = self.fail[r]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[nxt] = self.goto[f].get(ch, 0)
                self.out[nxt] = self.out[nxt] + self.out[self.fail[nxt]]

    def _raw_matches(self, text_lower: str) -> List[Tuple[int, int, str, str]]:
        # hot loop: local bindings + skip the (usually empty) output check —
        # profiled as the single largest extraction cost after normalization
        goto, fail, out = self.goto, self.fail, self.out
        node = 0
        matches = []
        append = matches.append
        for i, ch in enumerate(text_lower):
            g = goto[node]
            if ch in g:
                node = g[ch]
            else:
                while node and ch not in goto[node]:
                    node = fail[node]
                node = goto[node].get(ch, 0)
            o = out[node]
            if o:
                for plen, label, rule_id in o:
                    append((i - plen + 1, i + 1, label, rule_id))
        return matches

    def find(self, text: str) -> List[Tuple[int, int, str, str]]:
        """Boundary-checked, leftmost-longest, non-overlapping matches on the
        normalized text. Returns (begin, end, label, rule_id) offsets into the
        NORMALIZED text; callers slice the normalized text for surfaces."""
        t = normalize_surface(text)
        raw = self._raw_matches(t)
        ok = []
        n = len(t)
        for b, e, label, rule_id in raw:
            if b > 0 and _WORD_CHAR_RE.match(t[b - 1]) and _WORD_CHAR_RE.match(t[b]):
                continue
            if e < n and _WORD_CHAR_RE.match(t[e - 1]) and _WORD_CHAR_RE.match(t[e]):
                continue
            ok.append((b, e, label, rule_id))
        # leftmost-longest non-overlapping (spaCy ents are non-overlapping;
        # ruler longest-match wins)
        ok.sort(key=lambda m: (m[0], -(m[1] - m[0])))
        selected = []
        last_end = -1
        for m in ok:
            if m[0] >= last_end:
                selected.append(m)
                last_end = m[1]
        return selected


class TokenIndexMatcher:
    """Drop-in replacement for AhoCorasick.find that scans words, not chars.

    A WORD-level trie (nested dicts keyed by \\w+ token) replaces the
    char-level automaton: one C-speed `\\w+` finditer pass tokenizes the
    text, then each token takes ONE dict probe per trie level — fanout-free,
    so a dictionary where 600 phrases share a first word costs the same as
    one where none do. Terminals verify the exact phrase (separators
    included) with a single `str.startswith`.

    Equivalence to AhoCorasick.find (proved by the randomized cross-check in
    tests/test_extract.py and the pipeline fidelity oracle): every
    boundary-VALID match of a word-initial phrase begins at a token start
    and aligns its word runs with the text's token stream — matches the
    walker can't see (phrase run ending inside a longer text token) are
    exactly those AC's word-boundary check kills. Rare punctuation-initial
    phrases keep exact semantics through a first-char index scanned only at
    those chars' positions. Selection/boundary rules are shared verbatim
    (_select_matches). The pure-Python fidelity oracle (wbkg/oracle.py)
    keeps the AC implementation, so the two matchers cross-check each other.

    Profiled on the canonical corpus: the AC char loop was 13.6s of a 23s
    per-200-doc extraction budget; the word-trie walk removes most of it."""

    _WORD_RUN_RE = re.compile(r"\w+")

    def __init__(self, patterns: Iterable[Tuple[str, str, str]]):
        """patterns: (phrase, label, rule_id) — same contract as AhoCorasick."""
        self._trie: dict = {}
        self._by_punct: Dict[str, List[Tuple[str, int, str, str]]] = {}
        seen = set()
        for phrase, label, rule_id in patterns:
            p = normalize_surface(phrase)
            if not p or (p, label) in seen:
                continue
            seen.add((p, label))
            entry = (p, len(p), label, rule_id)
            runs = self._WORD_RUN_RE.findall(p)
            if runs and p[0] == runs[0][0] and _WORD_CHAR_RE.match(p[0]):
                node = self._trie
                for w in runs:
                    node = node.setdefault(w, {})
                node.setdefault(0, []).append(entry)  # key 0 = terminal list
            else:
                self._by_punct.setdefault(p[0], []).append(entry)
        self._punct_re = (
            re.compile("[" + re.escape("".join(sorted(self._by_punct))) + "]")
            if self._by_punct
            else None
        )

    def _raw(self, t: str, tokens=None) -> List[Tuple[int, int, str, str]]:
        out = []
        append = out.append
        starts = t.startswith
        if tokens is None:
            tokens = _tokenize(t)
        trie = self._trie
        n = len(tokens)
        for i in range(n):
            node = trie.get(tokens[i][1])
            if node is None:
                continue
            b = tokens[i][0]
            j = i
            while True:
                terms = node.get(0)
                if terms:
                    for p, ln, label, rid in terms:
                        if starts(p, b):
                            append((b, b + ln, label, rid))
                j += 1
                if j >= n:
                    break
                node = node.get(tokens[j][1])
                if node is None:
                    break
        if self._punct_re is not None:
            for m in self._punct_re.finditer(t):
                b = m.start()
                for p, ln, label, rid in self._by_punct[t[b]]:
                    if starts(p, b):
                        append((b, b + ln, label, rid))
        return out

    def find(self, text: str) -> List[Tuple[int, int, str, str]]:
        """Same contract as AhoCorasick.find: boundary-checked,
        leftmost-longest, non-overlapping (begin, end, label, rule_id)
        offsets into the NORMALIZED text."""
        t = normalize_surface(text)
        return _select_matches(t, self._raw(t))

    def find_normalized(self, t: str, tokens=None) -> List[Tuple[int, int, str, str]]:
        """find() over ALREADY-normalized text, optionally with a shared
        token list — _match_chunk normalizes/tokenizes each chunk once and
        feeds both the static and the per-doc matcher (one normalize + one
        finditer pass per chunk instead of three/two)."""
        return _select_matches(t, self._raw(t, tokens))


def _tokenize(t: str) -> list:
    """(start, word) for each \\w+ run — the shared token stream."""
    return [(m.start(), m.group(0)) for m in TokenIndexMatcher._WORD_RUN_RE.finditer(t)]


def _select_matches(t: str, raw: List[Tuple[int, int, str, str]]) -> List[Tuple[int, int, str, str]]:
    """Shared boundary check + leftmost-longest non-overlapping selection
    (the tail of AhoCorasick.find, factored out so both matchers share it)."""
    ok = []
    n = len(t)
    word = _WORD_CHAR_RE.match
    for b, e, label, rule_id in raw:
        if b > 0 and word(t[b - 1]) and word(t[b]):
            continue
        if e < n and word(t[e - 1]) and word(t[e]):
            continue
        ok.append((b, e, label, rule_id))
    ok.sort(key=lambda m: (m[0], -(m[1] - m[0])))
    selected = []
    last_end = -1
    for m in ok:
        if m[0] >= last_end:
            selected.append(m)
            last_end = m[1]
    return selected


# --------------------------------------------------------------------------- #
# Schwartz-Hearst inline acronym detection (C2)                                #
# --------------------------------------------------------------------------- #

_PAREN_RE = re.compile(r"\(([^()]{1,60})\)")


def _valid_short_form(sf: str) -> bool:
    sf = sf.strip()
    if not (2 <= len(sf) <= 10):
        return False
    if not any(c.isalpha() for c in sf):
        return False
    if not (sf[0].isalnum()):
        return False
    if " " in sf and len(sf.split()) > 2:
        return False
    return True


def _best_long_form(sf: str, preceding: str) -> Optional[str]:
    """Schwartz & Hearst (PSB 2003) backward character-matching search."""
    tokens = preceding.split()
    max_words = min(len(sf) + 5, len(sf) * 2, len(tokens))
    candidate_tokens = tokens[len(tokens) - max_words :]
    long_form = " ".join(candidate_tokens)
    s_idx = len(sf) - 1
    l_idx = len(long_form) - 1
    while s_idx >= 0:
        c = sf[s_idx].lower()
        if not c.isalnum():
            s_idx -= 1
            continue
        while l_idx >= 0 and (
            long_form[l_idx].lower() != c or (s_idx == 0 and l_idx > 0 and long_form[l_idx - 1].isalnum())
        ):
            l_idx -= 1
        if l_idx < 0:
            return None
        l_idx -= 1
        s_idx -= 1
    # trim to token boundary
    start = long_form.rfind(" ", 0, l_idx + 2) + 1
    result = long_form[start:].strip()
    if not result:
        return None
    if len(result.split()) > min(len(sf) + 5, len(sf) * 2):
        return None
    if result.lower() == sf.lower():
        return None
    return result


def extract_inline_acronyms_py(text: str) -> Dict[str, str]:
    """Find 'Long Form (SF)' patterns; returns {abbr: long_form}."""
    found: Dict[str, str] = {}
    for m in _PAREN_RE.finditer(text):
        sf = m.group(1).strip()
        if not _valid_short_form(sf):
            continue
        preceding = text[: m.start()].rsplit("\n", 1)[-1]
        # limit to the current sentence
        for sep in (". ", "! ", "? "):
            idx = preceding.rfind(sep)
            if idx >= 0:
                preceding = preceding[idx + len(sep) :]
        lf = _best_long_form(sf, preceding)
        if lf:
            found.setdefault(sf, lf)
    return found


# --------------------------------------------------------------------------- #
# Glossary parsing (C3 deterministic surrogate)                                #
# --------------------------------------------------------------------------- #


def extract_glossary_acronyms_py(header_path: str, text: str) -> Dict[str, str]:
    if not GLOSSARY_HEADER_RE.search(header_path or ""):
        return {}
    out: Dict[str, str] = {}
    for line in text.splitlines():
        m = GLOSSARY_LINE_RE.match(line)
        if m:
            out.setdefault(m.group(1), m.group(2))
    return out


# --------------------------------------------------------------------------- #
# Acronym dict ops (A2/A3/P5)                                                  #
# --------------------------------------------------------------------------- #


def clean_acronyms_py(acros: Dict[str, str], min_upper_ratio: float = 0.5) -> Dict[str, str]:
    """Port of ref src/acronyms.py:161-190 INCLUDING the chained-comparison
    bug at :176 (`11 > len(abbr) < 2`), which only rejects len<2."""
    cleaned = {}
    for abbr, defn in acros.items():
        if not abbr or len(abbr) < 2:
            continue
        num_upper = sum(1 for c in abbr if c.isupper())
        if num_upper / len(abbr) < min_upper_ratio:
            continue
        cleaned[abbr] = _html.unescape(defn).strip()
    return cleaned


def merge_acronym_dicts_py(primary: Dict[str, str], detected: Dict[str, str]) -> Dict[str, str]:
    """First-wins merge, primary priority (ref src/acronyms.py:125-147)."""
    merged = dict(primary)
    for abbr, definition in detected.items():
        merged.setdefault(abbr, definition)
    return merged


def flip_acronyms_py(primary: Dict[str, str], detected: Dict[str, str]) -> Dict[str, str]:
    """expansion -> abbr map (ref src/acronyms.py:150-158)."""
    entities = {v: k for k, v in primary.items()}
    for k, v in detected.items():
        entities.setdefault(v, k)
    return entities


# --------------------------------------------------------------------------- #
# Spark operators                                                              #
# --------------------------------------------------------------------------- #


def extract_acronyms(chunks_df: DataFrame) -> DataFrame:
    """chunks -> per-doc acronym table (doc_id, abbr, expansion, source).

    Two-phase: per-chunk detection inside mapInPandas (C2+C3), then a
    groupBy(doc_id, abbr) first-wins merge with glossary priority (A2) done as
    a relational agg — the merge is a distributed min_by, not a driver loop.
    """

    def detect(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, header_path, text in zip(pdf["doc_id"], pdf["header_path"], pdf["text"]):
                # P5 clean (html.unescape + strip) applied at detection time;
                # the relational filter below re-checks the bounds JVM-side
                for abbr, exp in clean_acronyms_py(extract_glossary_acronyms_py(header_path, text)).items():
                    rows.append({"doc_id": doc_id, "abbr": abbr, "expansion": exp, "source": "glossary"})
                for abbr, exp in clean_acronyms_py(extract_inline_acronyms_py(text)).items():
                    rows.append({"doc_id": doc_id, "abbr": abbr, "expansion": exp, "source": "inline"})
            yield pd.DataFrame(rows, columns=[f.name for f in ACRONYMS.fields])

    raw = chunks_df.select("doc_id", "header_path", "text").mapInPandas(detect, schema=ACRONYMS)

    # P5 clean: len>=2 (reference bug: upper bound not enforced) + uppercase
    # ratio >= 0.5 — pure Catalyst expressions, JVM-side. \p{Lu} keeps the
    # count Unicode-aware, matching clean_acronyms_py's str.isupper() (a
    # non-ASCII abbr like 'ÉSMF' must survive both passes identically)
    upper_cnt = F.length(F.regexp_replace(F.col("abbr"), r"[^\p{Lu}]", ""))
    cleaned = raw.filter(
        (F.length("abbr") >= 2) & (upper_cnt / F.length("abbr") >= 0.5)
    )

    # A2 merge, glossary first-wins: min_by over (priority, expansion)
    prio = F.when(F.col("source") == "glossary", F.lit(0)).otherwise(F.lit(1))
    return (
        cleaned.withColumn("_prio", prio)
        .groupBy("doc_id", "abbr")
        .agg(
            F.min_by(F.struct("expansion", "source"), F.struct("_prio", "expansion")).alias("_w")
        )
        .select("doc_id", "abbr", F.col("_w.expansion").alias("expansion"), F.col("_w.source").alias("source"))
    )


def build_pattern_rows(
    entity_rows: List[dict], unbis_rows: List[dict]
) -> List[Tuple[str, str, str]]:
    """Static (non-per-doc) pattern list for the Aho-Corasick automaton:
    dictionary surfaces (label=DICT_<kind>, rule_id=entity_id) + UNBIS terms
    (label=UNBIS_TERM, rule_id=href; ref src/ner.py:81-91)."""
    pats: List[Tuple[str, str, str]] = []
    for r in entity_rows:
        pats.append((r["surface_norm"], f"DICT_{r['kind'].upper()}", r["entity_id"]))
    for r in unbis_rows:
        pats.append((r["term"], "UNBIS_TERM", r["href"]))
    return pats


def _detect_doc_acronyms(chunks: List[dict]) -> Dict[str, Tuple[str, str]]:
    """Per-doc acronym dict {abbr: (expansion, source)} — C2+C3 detection,
    P5 clean, A2 glossary-first merge, all in one pure pass (the in-UDF twin
    of extract_acronyms' relational agg; identical semantics)."""
    found: Dict[str, Tuple[int, str, str]] = {}
    for c in chunks:
        for prio, src_name, det in (
            (0, "glossary", extract_glossary_acronyms_py(c["header_path"], c["text"])),
            (1, "inline", extract_inline_acronyms_py(c["text"])),
        ):
            for abbr, exp in clean_acronyms_py(det).items():
                cand = (prio, exp, src_name)
                if abbr not in found or cand < found[abbr]:
                    found[abbr] = cand
    return {abbr: (exp, src) for abbr, (prio, exp, src) in found.items()}


def _doc_matcher(acronyms) -> Optional["TokenIndexMatcher"]:
    """Per-doc acronym automaton over (abbr, expansion) pairs: ACRONYM +
    ACRONYM_EXPANDED patterns (ref src/ner.py:57-79); None when the doc
    has no acronyms."""
    doc_pats = []
    for abbr, exp in acronyms:
        doc_pats.append((abbr, "ACRONYM", abbr))
        if exp:
            doc_pats.append((exp, "ACRONYM_EXPANDED", exp))
    return TokenIndexMatcher(doc_pats) if doc_pats else None


def _match_chunk(text: str, static_ac, doc_ac, heur_ac=None) -> List[tuple]:
    """Merged leftmost-longest matches from the static + per-doc automata,
    returning (begin, end, label, rule_id, surface) on the normalized text.
    The chunk is normalized and tokenized ONCE, shared by all matchers.

    heur_ac (the C5 heuristic-NER candidates) is LOWER priority: like the
    reference's entity_ruler-before-ner ordering (src/pipeline.py:63-66),
    dictionary/acronym spans win every overlap and heuristic matches only
    fill the remaining gaps."""
    norm_text = normalize_surface(text)
    tokens = _tokenize(norm_text)
    matches = list(static_ac.find_normalized(norm_text, tokens))
    if doc_ac is not None:
        matches.extend(doc_ac.find_normalized(norm_text, tokens))
    matches.sort(key=lambda m: (m[0], -(m[1] - m[0])))
    sel, last_end = [], -1
    for m in matches:
        if m[0] >= last_end:
            sel.append(m)
            last_end = m[1]
    if heur_ac is not None:
        ruled = [(m[0], m[1]) for m in sel]
        extra = sorted(
            heur_ac.find_normalized(norm_text, tokens),
            key=lambda m: (m[0], -(m[1] - m[0])),
        )
        for m in extra:
            if all(m[1] <= b or m[0] >= e for b, e in ruled):
                sel.append(m)
                ruled.append((m[0], m[1]))
        sel.sort(key=lambda m: m[0])
    return [(b, e, label, rid, norm_text[b:e]) for b, e, label, rid in sel]


HEUR_LABEL = "HEUR_ENT"
_HEUR_CONNECTIVES = frozenset({"of", "the", "and", "for", "de", "du", "des", "la"})
_HEUR_CAP_RE = re.compile(r"^[A-Z][a-z][A-Za-z\-]*$")
_HEUR_STRIP = "()[]{}\"'`.,;:!?"


def heuristic_ner_candidates_py(
    chunk_texts: List[str],
    min_single_freq: int = 2,
    max_candidates: int = 128,
) -> List[str]:
    """C5 statistical-NER surrogate, narrowed (VERDICT r03 #5): a
    deterministic capitalized-n-gram candidate emitter over the ORIGINAL-
    cased text of one document. Emits:

    - maximal runs of >= 2 capitalized words (lowercase connectives like
      'of'/'the' allowed BETWEEN capitalized words: 'Ministry of Finance');
    - single capitalized words (len >= 4, not sentence-initial) that occur
      at least `min_single_freq` times in the document — the gazetteer-
      frequency condition that keeps single-token precision usable.

    Candidates are returned in first-discovery order (deterministic),
    capped at max_candidates. They become LOW-priority patterns merged
    ruler-first (ref src/pipeline.py:57-81: entity_ruler before ner), so
    dictionary entities always win overlapping spans."""
    multi: List[str] = []
    multi_seen = set()
    singles: dict = {}
    single_order: List[str] = []
    for text in chunk_texts:
        raw = text.split()
        words = [w.strip(_HEUR_STRIP) for w in raw]
        sent_initial = [True] + [
            raw[i - 1].rstrip(")\"']").endswith((".", "!", "?", ":", ";"))
            for i in range(1, len(raw))
        ]
        i, n = 0, len(words)
        while i < n:
            if _HEUR_CAP_RE.match(words[i]):
                # grow a run: caps, with connectives allowed between caps
                j, parts, caps = i, [words[i]], 1
                while j + 1 < n:
                    nxt = words[j + 1]
                    if _HEUR_CAP_RE.match(nxt) and not raw[j].rstrip(")\"']").endswith(
                        (".", "!", "?")
                    ):
                        parts.append(nxt)
                        caps += 1
                        j += 1
                    elif (
                        nxt in _HEUR_CONNECTIVES
                        and j + 2 < n
                        and _HEUR_CAP_RE.match(words[j + 2])
                    ):
                        parts.extend([nxt, words[j + 2]])
                        caps += 1
                        j += 2
                    elif caps >= 2 and nxt.isdigit() and not raw[j].rstrip(
                        ")\"']"
                    ).endswith((".", "!", "?")):
                        # trailing ordinal ('Project Inclusive Growth 1')
                        parts.append(nxt)
                        j += 1
                        break
                    else:
                        break
                if caps >= 2:
                    phrase = " ".join(parts)
                    if phrase not in multi_seen:
                        multi_seen.add(phrase)
                        multi.append(phrase)
                elif len(words[i]) >= 4 and not sent_initial[i]:
                    w = words[i]
                    if w not in singles:
                        single_order.append(w)
                    singles[w] = singles.get(w, 0) + 1
                i = j + 1
            else:
                i += 1
    out = multi + [w for w in single_order if singles[w] >= min_single_freq]
    return out[:max_candidates]


FUSED_SCHEMA = (
    "doc_id string, chunk_id string, chunk_idx int, text string, header_path string, "
    "prev_id string, next_id string, "
    "acronyms array<struct<abbr:string,expansion:string,source:string>>, "
    "mentions array<struct<surface:string,surface_norm:string,label:string,"
    "rule_id:string,begin:int,end:int>>"
)


def chunk_and_extract(
    docs_df: DataFrame,
    pattern_rows: List[Tuple[str, str, str]],
    chunk_size: int | None = None,
    chunk_overlap: int | None = None,
    heuristic_ner: bool = False,
) -> DataFrame:
    """Fused stage 1+2: spans -> chunks + per-doc acronyms + per-chunk
    mentions in ONE mapInPandas pass — zero shuffles until the linking join.
    The extraction pass of every entry point: pipeline.run_pipeline, the
    checkpointed job.py stage and each streaming micro-batch.

    The input row already holds the whole document, so chunking, acronym
    detection (which needs all chunks of a doc) and mention matching are
    embarrassingly parallel here; the single-purpose operators
    (chunk_documents / extract_acronyms / extract_mentions) would shuffle
    every chunk's text by doc_id just to co-locate acronyms with chunks.
    Acronyms ride on the chunk_idx==0 row; mentions ride nested per chunk;
    chunks_from_fused / acronyms_from_fused / mentions_from_fused are cheap
    selects/explodes.
    """
    from wbkg.chunker import DEFAULT_CHUNK_OVERLAP, DEFAULT_CHUNK_SIZE, doc_chunk_rows

    cs = chunk_size or DEFAULT_CHUNK_SIZE
    co = chunk_overlap or DEFAULT_CHUNK_OVERLAP
    spark = docs_df.sparkSession
    bc_patterns = spark.sparkContext.broadcast(pattern_rows)

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        static_ac = TokenIndexMatcher(bc_patterns.value)
        for pdf in batches:
            rows = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                chunks = doc_chunk_rows(doc_id, spans, cs, co)
                acros = _detect_doc_acronyms(chunks)
                doc_ac = _doc_matcher((abbr, exp) for abbr, (exp, _src) in acros.items())
                heur_ac = None
                if heuristic_ner:
                    cands = heuristic_ner_candidates_py([c["text"] for c in chunks])
                    if cands:
                        heur_ac = TokenIndexMatcher(
                            [(s, HEUR_LABEL, normalize_surface(s)) for s in cands]
                        )
                acro_list = [
                    {"abbr": a, "expansion": e, "source": s} for a, (e, s) in acros.items()
                ]
                for c in chunks:
                    c["acronyms"] = acro_list if c["chunk_idx"] == 0 else []
                    c["mentions"] = [
                        {
                            "surface": surf,
                            "surface_norm": surf,
                            "label": label,
                            "rule_id": rid,
                            "begin": b,
                            "end": e,
                        }
                        for b, e, label, rid, surf in _match_chunk(
                            c["text"], static_ac, doc_ac, heur_ac
                        )
                    ]
                    rows.append(c)
            cols = ["doc_id", "chunk_id", "chunk_idx", "text", "header_path",
                    "prev_id", "next_id", "acronyms", "mentions"]
            yield pd.DataFrame(rows, columns=cols)

    return docs_df.select("doc_id", "spans").mapInPandas(fused, schema=FUSED_SCHEMA)


def chunks_from_fused(fused: DataFrame) -> DataFrame:
    return fused.select(
        "doc_id", "chunk_id", "chunk_idx", "text", "header_path", "prev_id", "next_id"
    )


def acronyms_from_fused(fused: DataFrame) -> DataFrame:
    return (
        fused.filter(F.col("chunk_idx") == 0)
        .select("doc_id", F.explode("acronyms").alias("a"))
        .select("doc_id", "a.abbr", "a.expansion", "a.source")
    )


def mentions_from_fused(fused: DataFrame) -> DataFrame:
    m = fused.select("doc_id", "chunk_id", F.explode("mentions").alias("m")).select(
        "doc_id", "chunk_id", "m.surface", "m.surface_norm", "m.label", "m.rule_id",
        "m.begin", "m.end",
    )
    return m.filter(~F.col("label").isin(EXCLUDED_ENTS))


def extract_mentions(
    chunks_df: DataFrame,
    acronyms_df: DataFrame,
    pattern_rows: List[Tuple[str, str, str]],
) -> DataFrame:
    """chunks + per-doc acronyms -> MENTIONS, the mention-only operator (the
    pipeline matches inside chunk_and_extract with the same _match_chunk).

    The static dictionary automaton is broadcast once (executor-side build,
    cached per worker). Per-doc acronym patterns are joined onto chunks as a
    grouped column and matched with small per-doc automatons; the acronym
    join shuffles by doc_id only (acronym rows are tiny).
    """
    spark = chunks_df.sparkSession
    sc = spark.sparkContext
    bc_patterns = sc.broadcast(pattern_rows)

    acro_by_doc = acronyms_df.groupBy("doc_id").agg(
        F.collect_list(F.struct("abbr", "expansion")).alias("_acros")
    )
    enriched = chunks_df.select("doc_id", "chunk_id", "text").join(
        acro_by_doc, "doc_id", "left"
    )

    def match(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        static_ac = TokenIndexMatcher(bc_patterns.value)
        for pdf in batches:
            rows = []
            for doc_id, chunk_id, text, acros in zip(
                pdf["doc_id"], pdf["chunk_id"], pdf["text"], pdf["_acros"]
            ):
                pairs = [] if acros is None else (
                    (a["abbr"], a["expansion"]) for a in acros
                )
                for b, e, label, rule_id, surf in _match_chunk(
                    text, static_ac, _doc_matcher(pairs)
                ):
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "chunk_id": chunk_id,
                            "surface": surf,
                            "surface_norm": surf,
                            "label": label,
                            "rule_id": rule_id,
                            "begin": b,
                            "end": e,
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in MENTIONS.fields])

    mentions = enriched.mapInPandas(match, schema=MENTIONS)
    # P2: excluded-label filter (ref src/ner.py:101-104)
    return mentions.filter(~F.col("label").isin(EXCLUDED_ENTS))
