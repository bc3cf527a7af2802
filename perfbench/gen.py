"""Seeded input generator for the benchmark workloads.

Everything here is plain Python driven by ``random.Random(seed)``: the
same seed gives byte-identical inputs, and the program under test only
ever sees the generated texts. The generator also returns what it
planted (expected sections, duplicate groups, near-duplicate pairs) so
the oracles can check the program's outputs without running it.

The section-header vocabulary below is written out independently of
the engine's ``SECTION_PATTERNS``: it is the spec the resumes are
generated against, not a copy of the code being checked.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

# canonical section key -> header spellings a resume may use
SECTION_HEADERS: dict[str, tuple[str, ...]] = {
    "summary": ("Summary", "Objective", "About Me"),
    "experience": ("Experience", "Work History", "Professional Experience"),
    "skills": ("Skills", "Technologies", "Technical Skills"),
    "projects": ("Projects", "Portfolio"),
    "education": ("Education", "Academics"),
    "certifications": ("Certifications", "Qualifications", "Achievements", "Endorsements"),
    "strengths": ("Strengths", "Capabilities", "Abilities", "Merits"),
}

# headers outside the vocabulary: not section boundaries, so their line
# folds into the preceding section's body
UNKNOWN_HEADERS = ("Hobbies", "Interests", "Languages", "References", "Volunteering")

# header text + separator; the sectioner accepts optional whitespace
# then ':' or a newline after a header
_SEPARATORS = (": ", ":\n", "\n", " : ")

_TECH = (
    "python java scala spark kafka airflow docker kubernetes terraform aws gcp azure "
    "sql postgres mysql redis mongodb cassandra hadoop hive presto flink beam "
    "pandas numpy pytorch tensorflow sklearn xgboost llm nlp vision etl pipelines "
    "streaming batch analytics dashboards tableau looker react typescript golang rust "
    "linux bash git ci cd microservices grpc rest graphql security compliance agile "
    "scrum leadership mentoring stakeholder roadmap budgeting forecasting sales "
    "marketing finance accounting logistics supply chain retail healthcare banking"
).split()
_FIRST = "Avery Jordan Riley Casey Morgan Quinn Harper Rowan Sasha Devon Emery Kai".split()
_LAST = "Kim Patel Novak Silva Okafor Larsen Moreau Tanaka Haddad Rossi Nguyen".split()
_ONSETS = "b c d f g h j k l m n p r s t v z br cl dr fl gr pl st tr".split()
_VOWELS = "a e i o u ai ea io ou".split()


def _forbidden_fragments() -> tuple[str, ...]:
    words = {w.lower() for hs in SECTION_HEADERS.values() for h in hs for w in h.split()}
    return tuple(sorted(words - {"me"}))


_FORBIDDEN = _forbidden_fragments()


def _is_safe(word: str) -> bool:
    """A body word may never contain a header word: the sectioner
    matches header text anywhere in a resume, not only at line start."""
    w = word.lower()
    return not any(f in w for f in _FORBIDDEN)


def _build_vocab(size: int) -> list[str]:
    """Fixed (seed-independent) vocabulary: real tech words, then
    pronounceable syllable words, minus anything header-like."""
    out = [w for w in _TECH if _is_safe(w)]
    seen = set(out)
    rng = random.Random(20240611)
    while len(out) < size:
        n = rng.choice((2, 2, 3, 3, 4))
        w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(n))
        if w not in seen and _is_safe(w):
            seen.add(w)
            out.append(w)
    return out


VOCAB = _build_vocab(3000)


def _words(rng: random.Random, pool: list[str], n: int) -> list[str]:
    return rng.choices(pool, k=n)


# --------------------------------------------------------------------
# shortlist: resume index + job descriptions
# --------------------------------------------------------------------


def index_resumes(seed: int, n: int) -> list[str]:
    """``n`` short resume texts for the shortlist index (ids 0..n-1)."""
    rng = random.Random(seed * 1_000_003 + 1)
    return [
        f"{rng.choice(_FIRST)} {rng.choice(_LAST)} " + " ".join(_words(rng, VOCAB, rng.randint(8, 16)))
        for _ in range(n)
    ]


def jd_text(seed: int, i: int) -> str:
    """The ``i``-th job description of a run; never repeats within a
    seed (it carries its request number)."""
    rng = random.Random(seed * 7_000_003 + i)
    return f"role r{seed}q{i} " + " ".join(_words(rng, VOCAB, rng.randint(30, 60)))


# --------------------------------------------------------------------
# ingest_dedup: upload batches with section-header edge cases and
# re-uploaded resumes
# --------------------------------------------------------------------


@dataclass
class Resume:
    doc_id: int
    text: str
    kind: str
    # expected sectioner output: canonical key -> stripped body
    sections: dict[str, str] = field(default_factory=dict)


@dataclass
class UploadBatch:
    jd: str
    resumes: list[Resume]
    # planted exact-duplicate groups (every group, singletons included)
    exact_groups: list[list[int]]
    # planted near duplicates: (original id, edited re-upload id)
    near_pairs: list[tuple[int, int]]


_KINDS = (
    ("plain", 40),
    ("preamble", 15),
    ("duplicate_header", 10),
    ("unknown_header", 10),
    ("empty_body", 7),
    ("inline_header", 8),
    ("headerless", 10),
)

EXACT_RATE = 0.05  # re-uploads of the same resume (case/spacing differ)
NEAR_RATE = 0.10  # re-uploads with a few words removed
DROPOUT = 0.05


@dataclass
class _Layout:
    """How a resume is put together: preamble, then (key, header,
    separator, body) parts, or plain lines when headerless."""

    kind: str
    preamble: str
    parts: list[tuple[str, str, str, str]]
    joiner: str
    lines: list[str]


def _header(rng: random.Random, key: str) -> str:
    h = rng.choice(SECTION_HEADERS[key])
    style = rng.randrange(3)
    return h.upper() if style == 0 else h.lower() if style == 1 else h


def _layout(rng: random.Random, doc_id: int, jd_words: list[str]) -> _Layout:
    kind = rng.choices([k for k, _ in _KINDS], weights=[w for _, w in _KINDS])[0]

    def body() -> str:
        n = rng.randint(6, 24)
        k = rng.randint(0, min(n, 12))  # words shared with the JD
        ws = rng.sample(jd_words, min(k, len(jd_words))) + _words(rng, VOCAB, n - k)
        rng.shuffle(ws)
        return " ".join(ws)

    if kind == "headerless":
        return _Layout(kind, "", [], "\n", [body() for _ in range(rng.randint(2, 5))])

    keys = rng.sample(list(SECTION_HEADERS), rng.randint(2, 7))
    bodies: list[tuple[str, str]] = [(k, body()) for k in keys]
    if kind == "duplicate_header":
        bodies.append((rng.choice(keys), body()))  # later occurrence wins
    if kind == "empty_body":
        i = rng.randrange(len(bodies))
        bodies[i] = (bodies[i][0], "")
    if kind == "unknown_header":
        i = rng.randrange(len(bodies))
        extra = f"{rng.choice(UNKNOWN_HEADERS)}: {' '.join(_words(rng, VOCAB, rng.randint(2, 6)))}"
        bodies[i] = (bodies[i][0], f"{bodies[i][1]}\n{extra}")
    preamble = ""
    if kind == "preamble" or (kind == "plain" and rng.random() < 0.3):
        preamble = f"{rng.choice(_FIRST)} {rng.choice(_LAST)}\ncontact mail{doc_id} phone {rng.randint(1000, 9999)}\n"
    parts = [(k, _header(rng, k), rng.choice(_SEPARATORS), b) for k, b in bodies]
    return _Layout(kind, preamble, parts, " " if kind == "inline_header" else "\n", [])


def _render(doc_id: int, lay: _Layout) -> Resume:
    if lay.kind == "headerless":
        return Resume(doc_id, "\n".join(lay.lines), lay.kind)
    text = lay.preamble + lay.joiner.join(h + sep + b for _, h, sep, b in lay.parts)
    return Resume(doc_id, text, lay.kind, {k: b.strip() for k, _, _, b in lay.parts})


def _map_bodies(lay: _Layout, f) -> _Layout:
    return _Layout(
        lay.kind, lay.preamble, [(k, h, sep, f(b)) for k, h, sep, b in lay.parts], lay.joiner, [f(x) for x in lay.lines]
    )


def _respaced(rng: random.Random, body: str) -> str:
    """Same words after case-folding and whitespace collapsing: random
    re-casing and doubled or tab spacing (headers are left alone, so
    the sections do not move)."""
    if not body:
        return body
    toks = [t.upper() if rng.random() < 0.2 else t for t in body.split(" ")]
    return "".join(t + rng.choice((" ", " ", "  ", "\t")) for t in toks[:-1]) + toks[-1]


def _edited(rng: random.Random, lay: _Layout) -> _Layout:
    """Drop about DROPOUT of the body words, at least one."""
    slots = [(i, j) for i, b in enumerate(lay.lines or [p[3] for p in lay.parts]) for j in range(len(b.split(" "))) if b]
    drop = {s for s in slots if rng.random() < DROPOUT} or {rng.choice(slots)}
    n = iter(range(len(lay.lines or lay.parts)))

    def cut(b: str) -> str:
        i = next(n)
        return " ".join(w for j, w in enumerate(b.split(" ")) if (i, j) not in drop) if b else b

    return _map_bodies(lay, cut)


def _normalize(text: str) -> str:
    return " ".join(text.split()).lower()


def upload_batch(seed: int, op: int, n: int) -> UploadBatch:
    """The ``op``-th upload batch: one JD and ``n`` resumes, of which
    ``EXACT_RATE`` are exact re-uploads and ``NEAR_RATE`` edited
    re-uploads of others in the batch; ids are shuffled."""
    rng = random.Random(seed * 9_000_011 + op)
    jd_words = _words(rng, VOCAB, rng.randint(30, 60))
    jd = f"role r{seed}b{op} " + " ".join(jd_words)
    n_exact, n_near = int(n * EXACT_RATE), int(n * NEAR_RATE)
    n_orig = n - n_exact - n_near
    perm = list(range(n))
    rng.shuffle(perm)
    ids = [op * n + p for p in perm]  # position i gets doc id ids[i]
    layouts = [_layout(rng, ids[i], jd_words) for i in range(n_orig)]
    resumes = [_render(ids[i], lay) for i, lay in enumerate(layouts)]
    seen = {_normalize(r.text) for r in resumes}
    groups = {i: [ids[i]] for i in range(n_orig)}
    for _ in range(n_exact):
        b = rng.randrange(n_orig)
        groups[b].append(ids[len(resumes)])
        resumes.append(_render(ids[len(resumes)], _map_bodies(layouts[b], lambda x: _respaced(rng, x))))
    near: list[tuple[int, int]] = []
    while len(near) < n_near:
        b = rng.randrange(n_orig)
        r = _render(ids[len(resumes)], _edited(rng, layouts[b]))
        if _normalize(r.text) in seen:
            continue
        seen.add(_normalize(r.text))
        groups[len(resumes)] = [r.doc_id]
        near.append((ids[b], r.doc_id))
        resumes.append(r)
    return UploadBatch(jd, resumes, sorted(sorted(g) for g in groups.values()), near)
