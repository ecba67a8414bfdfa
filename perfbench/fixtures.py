"""Seeded input generators for the benchmark's workloads.

Everything the engine sees is made here from ``--seed``: the documents
table and its TPC-H-style neighbours, the ingest drops, the search requests
and the board's pass order. The same seed gives byte-identical inputs. The
word lists are frozen copies (not imports of the engine's lexicon), so a
change to the engine can never change the benchmark's inputs.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import random

POSITIVE = (
    "active altruistic attentive award best better bless bliss charming "
    "cherished dazzle dependable earn ecstatic educate endear epic euphoric "
    "excellent fair feat festive foster funny generous glow grand great "
    "heartwarming helpful hilarious humor immaculate improved innovative jolly "
    "joy keen luck mercy miracle noble patient praise productive purity radiant "
    "rejoice renown salvation satisfied skill special splendid stellar sunshine "
    "superior sympathetic tenacious thank tranquility validate vigilant "
    "vigorous vital vivacious warmth wealth willing"
).split()
NEGATIVE = (
    "abandon alienate angry ashamed atrocity bad barbaric beg blunder brutal "
    "bully chaos collision critic criticize cruel cruelty deadlock defect deny "
    "depress deprive devastate dishonor dismal dismay distress drought drown "
    "enemy filthy fool hell hijack ignorant incompetent inept insolvent liar "
    "lonely lose mad mess mislead mourning negligence obstacle outbreak "
    "paralyze prosecute reject resent rude rupture ruthless setback smuggle "
    "tension terrible terrorism torture tragedy trauma treason unethical "
    "vicious victim vulnerable worthless"
).split()
NEGATIONS = "not never no hardly without nothing".split()
BOOSTERS = "very extremely really totally deeply slightly somewhat barely".split()
# function words, English language-ID markers first
FUNCTION = (
    "the and of to is that for with a in on was it as by from at this are be"
).split()
# content words in Zipf rank order: rank r is drawn with weight 1/r
CONTENT = (
    "market company report people city government year week data price team "
    "service product season region growth plan energy policy network school "
    "budget research council health project travel weather museum harbor "
    "railway festival farm bank factory river coast island village bridge "
    "library garden forest valley mountain highway airport station hospital "
    "tower stadium orchestra gallery theater kitchen vessel cargo satellite "
    "battery engine sensor signal archive ledger harvest lantern compass "
    "glacier canyon meadow orchard quarry reservoir turbine vineyard workshop "
    "beacon canal citadel dune estuary fjord grove lagoon marsh plateau summit"
).split()
FOREIGN = {
    "es": "el la los las de que es por una ciudad mercado gobierno".split(),
    "fr": "le la les des est que pour dans une ville marche gouvernement".split(),
    "de": "der die das und ist nicht mit ein stadt markt regierung jahr".split(),
}
SENTIMENT_VALUES = ("positive", "neutral", "negative")

# Input shares. Measured on the repository's reference tables where one
# exists; the others are assumptions, with the reason for the value.
# - English and near-duplicate docs: the reference ``documents`` table at
#   sf0.1 (see ``documents``).
ENGLISH_SHARE = 0.41
NEAR_DUP_SHARE = 0.05
# - Docs the curation gate rejects: 27% of that table (non-English 23%, low
#   quality 14%, repetitive 1.6%; the flags overlap).
REJECT_SHARE = 0.27
# - Replayed doc_ids: the fixture spec's ~10% duplicate article urls, within
#   a batch and against the processed store (FIXTURES.md, table A1).
REPLAY_SHARE = 0.10
# - Query terms no doc contains: an assumption, not measured; 0.15 sends
#   about 6% of pages (those whose every term misses) down the empty-result
#   path. The 1/r term weights (``_zipf_table``) are the plain Zipf law,
#   likewise assumed.
ZERO_HIT_SHARE = 0.15
# One reference fetch cycle: two producers of up to 100 articles each.
DROP_DOCS = 200


def _zipf_table(n: int) -> list[float]:
    return list(itertools.accumulate(1.0 / r for r in range(1, n + 1)))


_CONTENT_CUM = _zipf_table(len(CONTENT))


def zipf_pick(rng: random.Random, words: list[str], cum: list[float]) -> str:
    return words[bisect.bisect_left(cum, rng.random() * cum[-1])]


def _sentiment_word(rng: random.Random) -> list[str]:
    w = rng.choice(POSITIVE if rng.random() < 0.55 else NEGATIVE)
    if rng.random() < 0.08:
        w = w.upper()
    out = [w]
    r = rng.random()
    if r < 0.12:
        out.insert(0, rng.choice(NEGATIONS))
    elif r < 0.24:
        out.insert(0, rng.choice(BOOSTERS))
    return out


def english_text(rng: random.Random, n_sentences: int) -> str:
    """Lexicon-rich English: negations, boosters, CAPS words and "but"
    clauses, with enough function words to pass the language-ID and
    quality gates."""
    sentences = []
    for _ in range(n_sentences):
        words: list[str] = []
        for _ in range(rng.randint(9, 15)):
            r = rng.random()
            if r < 0.32:
                words.append(rng.choice(FUNCTION))
            elif r < 0.52:
                words.extend(_sentiment_word(rng))
            else:
                words.append(zipf_pick(rng, CONTENT, _CONTENT_CUM))
        if rng.random() < 0.25:
            words.insert(len(words) // 2, "but")
        sentences.append(" ".join(words) + ("!" if rng.random() < 0.1 else "."))
    return " ".join(sentences)


def foreign_text(rng: random.Random, lang: str, n_words: int) -> str:
    return " ".join(rng.choice(FOREIGN[lang]) for _ in range(n_words))


def near_duplicate(rng: random.Random, text: str) -> str:
    """Change exactly one word of a text of 40 or more words."""
    words = text.split(" ")
    if len(words) < 40:
        raise ValueError("near-duplicates need a source of 40+ words")
    i = rng.randrange(len(words))
    words[i] = rng.choice(CONTENT) + "x"
    return " ".join(words)


def documents(seed: int, n: int) -> list[dict]:
    """The ``documents`` table, in the language mix of the repository's
    reference ``documents`` table (5,000 rows at sf0.1: 41% en and about 15%
    each of zh, es, fr and de), of which 5% are near-duplicates of earlier
    English docs -- the share of that table's docs whose exact word-3-shingle
    Jaccard with an earlier doc is 0.5 or more (4.9%). The shares are exact
    in every seed (to the nearest doc); the seed picks which doc is which
    and draws the words, so that seeds differ in content, not in mix."""
    rng = random.Random(f"documents:{seed}")
    n_near = round(NEAR_DUP_SHARE * n)
    n_en = round(ENGLISH_SHARE * n) - n_near
    kinds = ["near"] * n_near + ["en"] * n_en + ["foreign"] * (n - n_near - n_en)
    rng.shuffle(kinds)
    rows: list[dict] = []
    english: list[str] = []
    for doc_id in range(n):
        kind = kinds[doc_id]
        if kind == "near" and not english:
            # no source yet: trade places with the next fresh English doc
            j = kinds.index("en", doc_id)
            kinds[doc_id], kinds[j] = kinds[j], kinds[doc_id]
            kind = "en"
        if kind == "near":
            text, lang = near_duplicate(rng, rng.choice(english)), "en"
        elif kind == "en":
            text, lang = english_text(rng, rng.randint(4, 6)), "en"
            if len(text.split(" ")) >= 40:
                english.append(text)
        else:
            lang = rng.choice(("es", "fr", "de", "zh"))
            if lang == "zh":
                text = " ".join(rng.choice(CONTENT) for _ in range(rng.randint(20, 50)))
            else:
                text = foreign_text(rng, lang, rng.randint(20, 50))
        rows.append(
            {"doc_id": doc_id, "text": text, "lang": lang,
             "source": f"src{doc_id % 5}", "n_chars": len(text)}
        )
    return rows


def relational_tables(seed: int, n_orders: int) -> dict[str, list[dict]]:
    """customer / orders / lineitem / events in the reference corpus's schema,
    at roughly 1 customer per 10 orders and 4 lines per order."""
    rng = random.Random(f"relational:{seed}")
    # order dates span the reference corpus's 1995-2001 range; events its January 2024
    first_order, first_event = dt.datetime(1995, 1, 1), dt.datetime(2024, 1, 1)
    n_cust = max(10, n_orders // 10)
    customer = [
        {"c_custkey": k, "c_name": f"Customer#{k:09d}", "c_nationkey": rng.randrange(25),
         "c_acctbal": round(rng.uniform(-999, 9999), 2),
         "c_mktsegment": rng.choice(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))}
        for k in range(1, n_cust + 1)
    ]
    orders, lineitem = [], []
    for ok in range(1, n_orders + 1):
        odate = first_order + dt.timedelta(days=rng.randrange(2400))
        lines = rng.randint(1, 7)
        total = 0.0
        for ln in range(1, lines + 1):
            qty = float(rng.randint(1, 50))
            price = round(qty * rng.uniform(900, 1100), 2)
            total += price
            lineitem.append(
                {"l_orderkey": ok, "l_partkey": rng.randrange(1, 2000), "l_suppkey": rng.randrange(1, 100),
                 "l_linenumber": ln, "l_quantity": qty, "l_extendedprice": price,
                 "l_discount": rng.randint(0, 10) / 100, "l_tax": rng.randint(0, 8) / 100,
                 "l_returnflag": rng.choice("ANR"), "l_linestatus": rng.choice("OF"),
                 "l_shipdate": odate + dt.timedelta(days=rng.randint(1, 120))}
            )
        orders.append(
            {"o_orderkey": ok, "o_custkey": rng.randrange(1, n_cust + 1),
             "o_orderstatus": rng.choice("OFP"), "o_totalprice": round(total, 2),
             "o_orderdate": odate,
             "o_orderpriority": rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))}
        )
    events = []
    t = first_event
    for eid in range(n_orders):
        t += dt.timedelta(seconds=rng.randint(1, 900))
        events.append(
            {"event_id": eid, "ts": t, "user_id": rng.randrange(1, n_cust + 1),
             "event_type": rng.choice(("view", "click", "cart", "purchase")),
             "value": round(rng.uniform(0, 500), 2), "props": f'{{"k": {rng.randrange(50)}}}'}
        )
    return {"customer": customer, "orders": orders, "lineitem": lineitem, "events": events}


class IngestDrops:
    """The ingest stream: drops of ``DROP_DOCS`` docs, each a seeded mix of

    - ``replay``: an earlier doc_id re-sent with its original text,
      ``REPLAY_SHARE`` of the drop;

    and, of the new docs,

    - ``reject``: docs the curation gate must reject (non-English, short or
      repetitive), ``REJECT_SHARE``,
    - ``near_dup``: one word changed in an earlier English doc (40+ words,
      so the exact 3-shingle Jaccard stays near 0.85, far above 0.5),
      ``NEAR_DUP_SHARE``,
    - ``fresh``: new lexicon-rich English docs, the rest.

    ``corpus`` is the bootstrap corpus as ``documents()`` rows; drop doc_ids
    start above every corpus id. Near-duplicate sources are English docs of
    40 or more words, from the corpus or an earlier drop.
    """

    SHARES = (
        ("replay", REPLAY_SHARE),
        ("reject", (1 - REPLAY_SHARE) * REJECT_SHARE),
        ("near_dup", (1 - REPLAY_SHARE) * NEAR_DUP_SHARE),
        ("fresh", (1 - REPLAY_SHARE) * (1 - REJECT_SHARE - NEAR_DUP_SHARE)),
    )

    def __init__(self, seed: int, corpus: list[dict]):
        self.rng = random.Random(f"ingest:{seed}")
        self.next_id = max((r["doc_id"] for r in corpus), default=-1) + 1_000_000
        self.text = {r["doc_id"]: r["text"] for r in corpus}
        self.sources = [
            r["doc_id"] for r in corpus if r["lang"] == "en" and len(r["text"].split(" ")) >= 40
        ]
        self.sent: list[int] = [r["doc_id"] for r in corpus[:50]]  # replay pool
        self.planted: list[tuple[int, int]] = []  # (near_dup id, source id)
        self.kinds: dict[int, str] = {}

    def next_drop(self) -> list[dict]:
        rng = self.rng
        counts = {k: round(s * DROP_DOCS) for k, s in self.SHARES}
        counts["fresh"] += DROP_DOCS - sum(counts.values())
        kinds = [k for k, c in counts.items() for _ in range(c)]
        rng.shuffle(kinds)
        replays = iter(rng.sample(self.sent, counts["replay"]))
        rows, new = [], []
        for kind in kinds:
            if kind == "replay":
                doc_id = next(replays)
                rows.append({"doc_id": doc_id, "text": self.text[doc_id]})
                continue
            doc_id = self.next_id
            self.next_id += 1
            new.append(doc_id)
            if kind == "fresh":
                text = english_text(rng, rng.randint(5, 7))
            elif kind == "near_dup":
                src = rng.choice(self.sources)
                text = near_duplicate(rng, self.text[src])
                self.planted.append((doc_id, src))
            else:
                text = _reject_text(rng)
            self.text[doc_id] = text
            self.kinds[doc_id] = kind
            rows.append({"doc_id": doc_id, "text": text})
        self.sent.extend(new)
        self.sources.extend(d for d in new if self.kinds[d] == "fresh")
        return rows


def _reject_text(rng: random.Random) -> str:
    """A doc the gate rejects, by reason in the reference table's proportions:
    non-English 86%, repetitive 6%, too few words or low quality the rest."""
    r = rng.random()
    if r < 0.86:
        return foreign_text(rng, rng.choice(("es", "fr", "de")), rng.randint(25, 45))
    if r < 0.92:
        word = rng.choice(CONTENT)
        return " ".join(word if i % 2 == 0 else rng.choice(FUNCTION) for i in range(30))
    return " ".join(rng.choice(CONTENT) for _ in range(rng.randint(3, 7)))


def search_pages(seed: int, vocab: list[str], n: int) -> list[dict]:
    """``n`` search pages: 1-3 query terms drawn Zipf-weighted from ``vocab``
    (most frequent first), with ``ZERO_HIT_SHARE`` of the terms replaced by a
    word no document contains; plus the sentiment value the page filters on.
    The term counts cycle 1, 2, 3 from a seeded start, so that any three
    pages in a row hold one of each, and seeds differ in the terms, not in
    how many."""
    rng = random.Random(f"search:{seed}")
    cum = _zipf_table(len(vocab))
    start = rng.randrange(3)
    pages = []
    for i in range(n):
        terms = []
        for _ in range(1 + (start + i) % 3):
            if rng.random() < ZERO_HIT_SHARE:
                terms.append(f"qqzx{rng.randrange(10**6)}")
            else:
                terms.append(zipf_pick(rng, vocab, cum))
        pages.append({"terms": terms, "sentiment": rng.choice(SENTIMENT_VALUES)})
    return pages


def board_orders(seed: int, names: list[str], passes: int) -> list[list[str]]:
    """One seeded shuffle of the board's query list per pass."""
    rng = random.Random(f"board:{seed}")
    out = []
    for _ in range(passes):
        order = list(names)
        rng.shuffle(order)
        out.append(order)
    return out
