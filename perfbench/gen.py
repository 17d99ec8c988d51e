"""Seeded input generators for the graft benchmark.

Every generator takes the seed as an argument and writes plain files into
an output directory; the same seed gives byte-identical files and a
different seed gives different ones. The program under test sees only
these files (and the frames the benchmark runner builds from them).

Workloads:
  varinfo  a prior cumulative codebook (the 16-column schema of the
           reference fixture) and several Qualtrics-shaped survey exports
           ("variants"), each with a ground-truth mapping per prior row.
  ingest   a seed corpus (documents and vectors) and a sequence of ticks,
           each with documents and vectors; planted exact, near-duplicate
           and stitched items point back at earlier ticks or the seed.

Usage: python3 gen.py --workload varinfo --seed 1 --out DIR
"""

import argparse
import csv
import math
import os
import random

import numpy as np

# ---------------------------------------------------------------- sizes

# varinfo: prior rows and survey items are the reference fixture's shape
# (420 codebook rows, 262 export columns) times VARINFO_SCALE.
VARINFO_SCALE = 2
VARINFO_VARIANTS = 6
# Texts that can be confused with each other are kept at least this far
# apart (Levenshtein), so an edit of at most MAX_EDIT characters can never
# make a different text the best match: d(r, other) >= MIN_GAP - MAX_EDIT
# > MAX_EDIT >= d(r, target).
MAX_EDIT = 6
MIN_GAP = 2 * MAX_EDIT + 1

INGEST_SEED_DOCS = 600
INGEST_SEED_VECS = 400
INGEST_TICKS = 12
INGEST_TICK_DOCS = 250
INGEST_TICK_VECS = 200
INGEST_DIM = 64
# planted shares per tick (the rest are fresh items)
INGEST_SHARES = {"exact": 0.08, "near": 0.08, "stitch": 0.04}
INGEST_VEC_SHARES = {"vexact": 0.08, "vnear": 0.08}
SEED_ID_BASE = 10_000_000

QUALTRICS_META = [
    ("StartDate", "Start Date"), ("EndDate", "End Date"),
    ("Status", "Response Type"), ("IPAddress", "IP Address"),
    ("Progress", "Progress"), ("Duration (in seconds)", "Duration (in seconds)"),
    ("Finished", "Finished"), ("RecordedDate", "Recorded Date"),
    ("ResponseId", "Response ID"), ("RecipientLastName", "Recipient Last Name"),
    ("RecipientFirstName", "Recipient First Name"),
    ("RecipientEmail", "Recipient Email"),
    ("ExternalReference", "External Data Reference"),
    ("LocationLatitude", "Location Latitude"),
    ("LocationLongitude", "Location Longitude"),
    ("DistributionChannel", "Distribution Channel"),
    ("UserLanguage", "User Language"),
]
BROWSER_META = [("Q401_Browser", "Browser Meta Info - Browser"),
                ("Q401_Version", "Browser Meta Info - Version"),
                ("Q401_Operating System", "Browser Meta Info - Operating System"),
                ("Q401_Resolution", "Browser Meta Info - Resolution")]
CONSENT_TEXT = ("You are invited to take part in a study of the graduate "
                "student experience.\n\nYour answers are confidential and "
                "reported only in aggregate. Taking part is voluntary; you "
                "may skip any question or stop at any time.\n\nDo you agree "
                "to take part?")
CODEBOOK_COLUMNS = [
    "ITEM_NAME", "ITEM_TYPE", "ITEM_PRESENTATION_TYPE", "ITEM_SECTION",
    "ITEM_PARENT_ID", "ITEM_STEM", "ITEM_MEMBER", "SCALE_OPTIONS",
    "SurveyAdminYear2021", "SurveyAdminYear2022", "SurveyAdminYear2023",
    "SurveyAdminYear2024", "QuestionText.2021", "QuestionText.2022",
    "QuestionText.2023", "QuestionText.2024"]
ITEM_TYPES = (("Interval Scale", 142), ("Multi Select", 121),
              ("Ratio Scale", 108), ("Single Select", 20),
              ("Open Text", 17), ("Ordinal Scale", 3), ("Quantitative", 1))
SCALES = ("agree3", "quality1", "yesno1", "yesno2", "satisfaction3",
          "ratio1", "importance2", "agree7")
# planted kinds of the generated (non-fixed) prior rows
VARINFO_KINDS = (("exact", 0.55), ("edit", 0.20), ("rescue", 0.12),
                 ("retired", 0.13))
NEW_VAR_SHARE = 0.10
JOIN_YEAR = "2023"  # VarinfoConfig's default join column is QuestionText.2023
NA = "NA"


def rng_for(*parts):
    """A private random stream per (workload, seed, purpose)."""
    return random.Random(":".join(str(p) for p in parts))


def weighted(rng, pairs):
    total = sum(w for _, w in pairs)
    x = rng.random() * total
    for v, w in pairs:
        x -= w
        if x < 0:
            return v
    return pairs[-1][0]


# ------------------------------------------------------ string distance

def levenshtein(a, b, bound=None):
    """Levenshtein distance; with `bound`, any value above it may be
    reported as bound + 1 (banded early exit)."""
    # common prefix and suffix never change the distance
    i = 0
    while i < len(a) and i < len(b) and a[i] == b[i]:
        i += 1
    a, b = a[i:], b[i:]
    j = 0
    while j < len(a) and j < len(b) and a[-1 - j] == b[-1 - j]:
        j += 1
    if j:
        a, b = a[:-j], b[:-j]
    if len(a) < len(b):
        a, b = b, a
    if not b:
        return len(a)
    if bound is not None and len(a) - len(b) > bound:
        return bound + 1
    prev = list(range(len(b) + 1))
    for x, ca in enumerate(a, 1):
        cur = [x] + [0] * len(b)
        for y, cb in enumerate(b, 1):
            cur[y] = min(prev[y] + 1, cur[y - 1] + 1,
                         prev[y - 1] + (ca != cb))
        if bound is not None and min(cur) > bound:
            return bound + 1
        prev = cur
    return prev[-1]


_BUCKET = np.array([c - 97 if 97 <= c <= 122 else 26 + c % 6
                    for c in range(256)], dtype=np.int64)


def _histogram(text):
    """Character counts over 32 buckets (a-z, then six buckets for
    everything else). Merging characters into buckets can only shrink the
    bag distance, so it stays a lower bound of the Levenshtein distance."""
    codes = np.frombuffer(text.encode("latin-1", "replace"), dtype=np.uint8)
    return np.bincount(_BUCKET[codes], minlength=32).astype(np.int32)


class TextPool:
    """A growing set of texts that answers "which members are closer than
    `gap` to this text?" exactly. The bag distance (the larger of the two
    one-sided character-count excesses) is a lower bound of the
    Levenshtein distance, so only members it cannot rule out are checked
    with the banded Levenshtein."""

    def __init__(self, texts=()):
        self.texts = []
        self.hist = np.zeros((0, 32), dtype=np.int32)
        self.extend(texts)

    def extend(self, texts):
        texts = list(texts)
        if texts:
            self.texts += texts
            self.hist = np.vstack([self.hist] + [_histogram(t) for t in texts])

    def replace(self, i, text):
        self.texts[i] = text
        self.hist[i] = _histogram(text)

    def close_to(self, text, gap, skip=None):
        if not self.texts:
            return []
        d = _histogram(text)[None, :] - self.hist
        bag = np.maximum(np.clip(d, 0, None).sum(1), np.clip(-d, 0, None).sum(1))
        return [int(j) for j in np.nonzero(bag < gap)[0]
                if int(j) != skip and
                levenshtein(text, self.texts[int(j)], gap) < gap]


# ------------------------------------------------------------- varinfo

def _word(rng, lo=3, hi=10):
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    n = rng.randint(lo, hi)
    return "".join(rng.choice(vows if k % 2 else cons) for k in range(n))


def _vocab(rng, n, lo=3, hi=10):
    seen, out = set(), []
    while len(out) < n:
        w = _word(rng, lo, hi)
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _sentence(rng, vocab, lo, hi, end="?"):
    words = [rng.choice(vocab) for _ in range(rng.randint(lo, hi))]
    s = " ".join(words)
    if rng.random() < 0.1:  # a multi-line question text
        cut = s.index(" ", len(s) // 2) if " " in s[len(s) // 2:] else len(s)
        s = s[:cut] + ".\n\n" + s[cut + 1:]
    return s[0].upper() + s[1:] + end


def _edit(rng, text, k):
    """Apply k random single-character edits (substitution, insertion or
    deletion) to `text`; the result is within Levenshtein distance k."""
    chars = list(text)
    letters = "abcdefghijklmnopqrstuvwxyz"
    for _ in range(k):
        pos = rng.randrange(len(chars))
        op = rng.choice("sid")
        if op == "s":
            chars[pos] = rng.choice([c for c in letters if c != chars[pos]])
        elif op == "i":
            chars.insert(pos, rng.choice(letters))
        elif len(chars) > 12:
            del chars[pos]
        else:
            chars.insert(pos, rng.choice(letters))
    return "".join(chars)


def varinfo_codebook(seed, scale=VARINFO_SCALE):
    """The prior cumulative codebook: a list of row dicts (CODEBOOK_COLUMNS
    plus a private `_kind`, `_text` and `_survey_name`)."""
    rng = rng_for("varinfo", seed, "codebook")
    vocab = _vocab(rng, 3000)
    sections = ["Program", "Advising", "Climate", "Finances", "Housing",
                "Wellness", "Career", "Teaching", "Research", "Community",
                "Belonging", "Demographics"]
    rows = []

    def add(name, itype, ptype, section, parent, stem, member, scale_opt,
            text, kind, years=(2021, 2022, 2023, 2024)):
        r = {"ITEM_NAME": name, "ITEM_TYPE": itype,
             "ITEM_PRESENTATION_TYPE": ptype, "ITEM_SECTION": section,
             "ITEM_PARENT_ID": parent, "ITEM_STEM": stem,
             "ITEM_MEMBER": member, "SCALE_OPTIONS": scale_opt,
             "_kind": kind, "_text": text}
        for y in (2021, 2022, 2023, 2024):
            on = y in years
            r[f"SurveyAdminYear{y}"] = str(y) if on else NA
            r[f"QuestionText.{y}"] = text if on else NA
        rows.append(r)

    for name, text in QUALTRICS_META:
        add(name, "metadata", NA, "Metadata", NA, text, NA, NA, text, "fixed")
    add("CONSENT", "Single Select", "standalone", "Consent", NA,
        CONSENT_TEXT, NA, "yesno1", CONSENT_TEXT, "fixed")
    for k in range(3):
        text = _sentence(rng, vocab, 6, 10, end=".")
        add(f"ADMIN_{k + 1}", "administrative", "standalone", "Admin", NA,
            text, NA, NA, text, "fixed")

    target = 420 * scale
    parent = 0
    used_names = {r["ITEM_NAME"] for r in rows}
    while len(rows) < target:
        parent += 1
        section = rng.choice(sections)
        code = "".join(rng.choice("ABCDEFGHJKLMNPRSTUVWXYZ") for _ in range(5))
        while code in used_names:
            code += rng.choice("ABCDEFGHJKLMNPRSTUVWXYZ")
        used_names.add(code)
        stem = _sentence(rng, vocab, 8, 16)
        itype = weighted(rng, ITEM_TYPES)
        scale_opt = rng.choice(SCALES)
        # matrix / select-all items share a stem; 30% are standalone
        if rng.random() < 0.3:
            members = [None]
        else:
            members = [" ".join(rng.choice(vocab) for _ in range(rng.randint(2, 4)))
                       for _ in range(rng.randint(4, 12))]
        ptype = ("standalone" if members == [None] else
                 "selectallthatapply" if itype == "Multi Select" else "matrix")
        sep = " - Selected Choice - " if ptype == "selectallthatapply" else " - "
        for j, m in enumerate(members, 1):
            if len(rows) >= target:
                break
            name = code if m is None else f"{code}_{j}"
            text = stem if m is None else f"{stem}{sep}{m}"
            kind = weighted(rng, VARINFO_KINDS)
            years = tuple(y for y in (2021, 2022, 2023, 2024)
                          if y == 2023 or rng.random() < 0.7)
            if kind == "rescue" and rng.random() < 0.5:
                # not administered in the join year: the row's join text
                # is NA, so only the variable-name join can place it
                years = tuple(y for y in years if y != 2023) or (2024,)
            add(name, itype, ptype, section, str(parent), stem,
                NA if m is None else m, scale_opt, text, kind, years)
    _separate(rows, vocab, rng)
    # survey-side names: most matched items keep the codebook name, some
    # carry a raw Qualtrics name (only the text join can place those)
    qn = 0
    for r in rows:
        if r["_kind"] in ("exact", "edit") and rng.random() < 0.3:
            qn += 1
            r["_survey_name"] = f"Q{qn}_{rng.randint(1, 20)}"
        else:
            r["_survey_name"] = r["ITEM_NAME"]
    return rows


def _separate(rows, vocab, rng):
    """Re-draw generated texts until every pair of join texts that an edit
    could confuse is at least MIN_GAP apart (fixed texts are exempt among
    themselves: they are only ever matched exactly)."""
    gen = [r for r in rows if r["_kind"] != "fixed"]
    fixed = TextPool([r["_text"] for r in rows if r["_kind"] == "fixed"] +
                     [t for _, t in BROWSER_META])
    pool = TextPool(r["_text"] for r in gen)
    todo = range(len(gen))
    for _ in range(50):
        bad = [i for i in todo
               if pool.close_to(pool.texts[i], MIN_GAP, skip=i) or
               fixed.close_to(pool.texts[i], MIN_GAP)]
        if not bad:
            return
        for i in bad:
            r = gen[i]
            if r["ITEM_PRESENTATION_TYPE"] == "standalone":
                r["ITEM_STEM"] = r["_text"] = _sentence(rng, vocab, 8, 16)
            else:
                m = " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 5)))
                sep = (" - Selected Choice - "
                       if r["ITEM_PRESENTATION_TYPE"] == "selectallthatapply"
                       else " - ")
                r["ITEM_MEMBER"] = m
                r["_text"] = f"{r['ITEM_STEM']}{sep}{m}"
            for y in (2021, 2022, 2023, 2024):
                if r[f"QuestionText.{y}"] != NA:
                    r[f"QuestionText.{y}"] = r["_text"]
            pool.replace(i, r["_text"])
        todo = bad
    raise RuntimeError("could not separate the codebook texts")


def _far_text(rng, vocab, pool, lo=8, hi=16):
    """A fresh question text at least MIN_GAP from every text in `pool`;
    it joins the pool."""
    while True:
        t = _sentence(rng, vocab, lo, hi)
        if not pool.close_to(t, MIN_GAP):
            pool.extend([t])
            return t


def varinfo_variant(seed, k, rows):
    """Survey variant k against the prior `rows`: returns (columns, truth,
    new_vars) where columns is a list of (name, question text)."""
    rng = rng_for("varinfo", seed, "variant", k)
    vocab = _vocab(rng_for("varinfo", seed, "codebook"), 3000)
    pool = TextPool([r["_text"] for r in rows] + [t for _, t in BROWSER_META])
    cols, truth = [], []
    for name, text in QUALTRICS_META:
        cols.append((name, text))
    cols += BROWSER_META
    items = []
    for r in rows:
        kind, join_text = r["_kind"], r[f"QuestionText.{JOIN_YEAR}"]
        if r["ITEM_TYPE"] == "metadata":
            truth.append((r["ITEM_NAME"], r["ITEM_NAME"]))
            continue
        if kind in ("fixed", "exact"):
            items.append((r["_survey_name"], r["_text"]))
            truth.append((r["ITEM_NAME"], r["_survey_name"]))
        elif kind == "edit":
            items.append((r["_survey_name"],
                          _edit(rng, r["_text"], rng.randint(1, MAX_EDIT))))
            truth.append((r["ITEM_NAME"], r["_survey_name"]))
        elif kind == "rescue":
            # reworded past the fuzzy bound: only the name join places it
            items.append((r["ITEM_NAME"], _far_text(rng, vocab, pool)))
            truth.append((r["ITEM_NAME"], r["ITEM_NAME"]))
        else:  # retired: gone from the survey
            truth.append((r["ITEM_NAME"], ""))
        if kind != "retired" and join_text == NA and kind != "rescue":
            raise AssertionError("text-matched rows need a join text")
    n_new = max(1, round(NEW_VAR_SHARE * len(items)))
    new_vars = []
    for i in range(n_new):
        t = _far_text(rng, vocab, pool)
        name = f"NEW{k}_{i + 1}"
        new_vars.append(name)
        items.insert(rng.randrange(len(items) + 1), (name, t))
    cols += items
    new_vars = sorted(new_vars + [n for n, _ in BROWSER_META])
    return cols, truth, new_vars


def write_varinfo(seed, out, variants=VARINFO_VARIANTS, scale=VARINFO_SCALE,
                  respondents=100):
    os.makedirs(out, exist_ok=True)
    rows = varinfo_codebook(seed, scale)
    with open(os.path.join(out, "codebook.csv"), "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(CODEBOOK_COLUMNS)
        for r in rows:
            w.writerow([r[c] for c in CODEBOOK_COLUMNS])
    for k in range(variants):
        cols, truth, new_vars = varinfo_variant(seed, k, rows)
        with open(os.path.join(out, f"survey-{k}.csv"), "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow([n for n, _ in cols])
            w.writerow([t for _, t in cols])
            blank = [""] * len(cols)
            for _ in range(respondents):
                w.writerow(blank)
        with open(os.path.join(out, f"truth-{k}.tsv"), "w") as f:
            for item, expect in truth:
                f.write(f"{item}\t{expect}\n")
        with open(os.path.join(out, f"new-{k}.txt"), "w") as f:
            f.write("".join(n + "\n" for n in new_vars))
    with open(os.path.join(out, "shape.tsv"), "w") as f:
        f.write(f"prior_rows\t{len(rows)}\nvariants\t{variants}\n")


# -------------------------------------------------------------- ingest

def _doc(rng, vocab, lo=50, hi=90):
    return [rng.choice(vocab) for _ in range(rng.randint(lo, hi))]


def _unit(rng, dim):
    v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _near_vec(rng, v):
    """Same sign cell (the first 8 dimensions are kept) and cosine well
    above the gate's 0.9 threshold."""
    w = v[:8] + [x + rng.gauss(0.0, 0.02) for x in v[8:]]
    n = math.sqrt(sum(x * x for x in w))
    return [x / n for x in w]


def _fmt_vec(v):
    return " ".join(f"{x:.6f}" for x in v)


def write_ingest(seed, out, ticks=INGEST_TICKS):
    """Seed corpus + ticks. planted.tsv lists every planted item as
    kind, id, comma-separated source ids; a planted item must be
    quarantined whenever all its sources are in the seed or accepted."""
    os.makedirs(out, exist_ok=True)
    rng = rng_for("ingest", seed)
    vocab = _vocab(rng, 2000, 3, 9)
    docs, vecs = {}, {}  # id -> tokens / vector, for planting sources
    with open(os.path.join(out, "seed_docs.tsv"), "w") as f:
        for i in range(INGEST_SEED_DOCS):
            d = _doc(rng, vocab)
            docs[SEED_ID_BASE + i] = d
            f.write(f"{SEED_ID_BASE + i}\t{' '.join(d)}\n")
    with open(os.path.join(out, "seed_vecs.tsv"), "w") as f:
        for i in range(INGEST_SEED_VECS):
            v = _unit(rng, INGEST_DIM)
            vecs[SEED_ID_BASE + i] = v
            f.write(f"{SEED_ID_BASE + i}\t{_fmt_vec(v)}\n")
    planted = []
    for t in range(ticks):
        doc_ids, vec_ids = list(docs), list(vecs)
        lines = []
        for i in range(INGEST_TICK_DOCS):
            did = t * 1000 + i
            kind = weighted(rng, list(INGEST_SHARES.items()) +
                            [("fresh", 1 - sum(INGEST_SHARES.values()))])
            if kind == "exact":
                src = rng.choice(doc_ids)
                d = list(docs[src])
                planted.append(("exact", did, [src]))
            elif kind == "near":
                src = rng.choice(doc_ids)
                d = list(docs[src])
                for pos in rng.sample(range(len(d)), 2):
                    d[pos] = rng.choice(vocab)
                planted.append(("near", did, [src]))
            elif kind == "stitch":
                a, b = rng.sample(doc_ids, 2)
                da, db = docs[a], docs[b]
                d = da[:len(da) // 2] + db[len(db) // 2:]
                planted.append(("stitch", did, [a, b]))
            else:
                d = _doc(rng, vocab)
            docs[did] = d
            lines.append(f"{did}\t{' '.join(d)}\n")
        with open(os.path.join(out, f"tick-{t}-docs.tsv"), "w") as f:
            f.writelines(lines)
        lines = []
        for i in range(INGEST_TICK_VECS):
            vid = t * 1000 + i
            kind = weighted(rng, list(INGEST_VEC_SHARES.items()) +
                            [("fresh", 1 - sum(INGEST_VEC_SHARES.values()))])
            if kind == "vexact":
                src = rng.choice(vec_ids)
                v = list(vecs[src])
                planted.append(("vexact", vid, [src]))
            elif kind == "vnear":
                src = rng.choice(vec_ids)
                v = _near_vec(rng, vecs[src])
                planted.append(("vnear", vid, [src]))
            else:
                v = _unit(rng, INGEST_DIM)
            vecs[vid] = v
            lines.append(f"{vid}\t{_fmt_vec(v)}\n")
        with open(os.path.join(out, f"tick-{t}-vecs.tsv"), "w") as f:
            f.writelines(lines)
    with open(os.path.join(out, "planted.tsv"), "w") as f:
        for kind, pid, srcs in planted:
            f.write(f"{kind}\t{pid}\t{','.join(map(str, srcs))}\n")
    with open(os.path.join(out, "shape.tsv"), "w") as f:
        f.write(f"ticks\t{ticks}\n")


WRITERS = {"varinfo": write_varinfo, "ingest": write_ingest}


def generate(workload, seed, out):
    WRITERS[workload](seed, out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WRITERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
