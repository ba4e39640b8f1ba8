"""Deterministic synthetic transcript corpus + golden triple fixtures.

Produces the input table of BASELINE.json's ``input_hint`` shape
``(conv_id, turn_idx, role, text, tool, ts)`` plus golden
``(subj, pred, obj, polarity)`` triples and golden mentions per turn.

Goldens are derived **from template structure**, never by running the
extractor — so tests/test_pipeline_pr.py is a genuine precision/recall gate
(north rule: P/R ≥ 0.95 vs reference-style fixtures).  Sentence shapes mirror
the reference's test suite coverage (SURVEY.md §5, FIXTURES.md §1): SVO,
control infinitives, copulars, passives, possessives, appositives,
conjunction, pronouns, negation, modal, dates/numbers, multi-word proper
nouns, PP complements.

Deterministic: rng per conversation seeded by (seed, conv index).  Skew knob:
``mega_frac`` of conversations get ``mega_mult``× as many turns, to exercise
salting / AQE skew handling downstream.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pandas as pd

# ---------------------------------------------------------------------------
# Closed vocabulary (all forms the frozen lexicon can analyze)
# ---------------------------------------------------------------------------

NAMES = ["Alice", "Bob", "Anna", "Carol", "David", "Emma", "Frank",
         "Grace", "Henry", "Irene", "Jack", "Karen", "Louis", "Mona"]

CITIES = [("New York", "New-York"), ("San Francisco", "San-Francisco"),
          ("Los Angeles", "Los-Angeles"), ("Hong Kong", "Hong-Kong")]

NOUNS = ["boy", "girl", "engineer", "doctor", "teacher", "report", "patch",
         "request", "pipeline", "dataset", "model", "query", "service",
         "cluster", "budget", "proposal", "ticket", "release", "schedule",
         "dashboard", "backup", "contract"]

PLURAL = {n: n + "s" for n in NOUNS}
PLURAL.update({"query": "queries", "patch": "patches"})

ADJS = ["ready", "broken", "stable", "correct", "efficient", "urgent",
        "complete", "slow", "fast", "green", "critical", "pending"]

# (lemma, 3sg, past, past-participle)
TVERBS = [
    ("review", "reviews", "reviewed", "reviewed"),
    ("approve", "approves", "approved", "approved"),
    ("examine", "examines", "examined", "examined"),
    ("describe", "describes", "described", "described"),
    ("update", "updates", "updated", "updated"),
    ("check", "checks", "checked", "checked"),
    ("test", "tests", "tested", "tested"),
    ("monitor", "monitors", "monitored", "monitored"),
    ("launch", "launches", "launched", "launched"),
    ("fix", "fixes", "fixed", "fixed"),
    ("merge", "merges", "merged", "merged"),
    ("deploy", "deploys", "deployed", "deployed"),
    ("build", "builds", "built", "built"),
    ("ship", "ships", "shipped", "shipped"),
    ("send", "sends", "sent", "sent"),
    ("create", "creates", "created", "created"),
    ("delete", "deletes", "deleted", "deleted"),
    ("validate", "validates", "validated", "validated"),
    ("schedule", "schedules", "scheduled", "scheduled"),
]

# intransitive (lemma, 3sg, past)
IVERBS = [
    ("happen", "happens", "happened"),
    ("continue", "continues", "continued"),
    ("stop", "stops", "stopped"),
    ("wait", "waits", "waited"),
]

CONTROL_INNER = ["review", "examine", "update", "check", "test", "fix",
                 "merge", "deploy", "validate", "believe"]

PRONOUN_SUBJ = [("She", "she"), ("He", "he"), ("They", "they"), ("We", "we")]

MONTH_NAMES = ["January", "February", "March", "April", "June", "July",
               "August", "September", "October", "November", "December"]

# ---------------------------------------------------------------------------
# Sentence templates: each returns (text, triples, mentions)
#   triple  = (subj, pred, obj, polarity[, modal, role, prep])
#             — 4-tuples get defaults: modal '', prep '', role 'ARG1' for a
#             non-empty object of a regular verb ('' for intransitives and
#             the _POSS/_AKA structural rows)
#   mention = (stem, kind)       — entity/propername/pronoun only (P/R gate
#                                  uses triples; mentions are a secondary set)
# ---------------------------------------------------------------------------


def _norm_triple(tr):
    s, p, o, pol = tr[:4]
    if len(tr) == 7:
        return tr
    role = "" if (not o or p in ("_POSS", "_AKA")) else "ARG1"
    return (s, p, o, pol, "", role, "")


def _t_svo(r):
    n1, n2 = r.sample(NOUNS, 2)
    v = r.choice(TVERBS)
    return (f"The {n1} {v[1]} the {n2}.",
            [(n1, v[0], n2, "pos")],
            [(n1, "entity"), (n2, "entity")],
            [("NP", f"The {n1}", False), ("VP", v[1], False),
             ("NP", f"the {n2}", False)])


def _t_svo_name(r):
    name = r.choice(NAMES)
    n = r.choice(NOUNS)
    v = r.choice(TVERBS)
    return (f"{name} {v[2]} the {n}.",
            [(name, v[0], n, "pos")],
            [(name, "propername"), (n, "entity")],
            [("NP", name, False), ("VP", v[2], False),
             ("NP", f"the {n}", False)])


def _t_control(r):
    n1, n2 = r.sample(NOUNS, 2)
    inner = r.choice(CONTROL_INNER)
    return (f"The {n1} wants to {inner} the {n2}.",
            [(n1, "want", inner, "pos"), (n1, inner, n2, "pos")],
            [(n1, "entity"), (n2, "entity")],
            [("NP", f"The {n1}", False), ("VP", "wants", False),
             ("S_INF", f"to {inner}", False), ("NP", f"the {n2}", False)])


def _t_copular_np(r):
    name = r.choice(NAMES)
    n = r.choice(NOUNS)
    return (f"{name} is a {n}.",
            [(name, "be", n, "pos")],
            [(name, "propername"), (n, "entity")],
            [("NP", name, False), ("VP", "is", False),
             ("NP", f"a {n}", False)])


def _t_copular_adj(r):
    n = r.choice(NOUNS)
    a = r.choice(ADJS)
    return (f"The {n} is {a}.",
            [(n, "be", a, "pos", "", "ATTR", "")],
            [(n, "entity")],
            [("NP", f"The {n}", False), ("VP", "is", False),
             ("ADJP", a, False)])


def _t_passive(r):
    n = r.choice(NOUNS)
    name = r.choice(NAMES)
    v = r.choice(TVERBS)
    return (f"The {n} was {v[3]} by {name}.",
            [(name, v[0], n, "pos")],
            [(n, "entity"), (name, "propername")],
            [("NP", f"The {n}", False), ("VP", f"was {v[3]}", False),
             ("NP", name, False), ("PP", f"by {name}", False)])


def _t_poss(r):
    name = r.choice(NAMES)
    n1, n2 = r.sample(NOUNS, 2)
    v = r.choice(TVERBS)
    return (f"{name}'s {n1} {v[1]} the {n2}.",
            [(name, "_POSS", n1, "pos"), (n1, v[0], n2, "pos")],
            [(name, "propername"), (n1, "entity"), (n2, "entity")],
            [("NP", n1, False), ("NP", f"{name} 's {n1}", False),
             ("VP", v[1], False), ("NP", f"the {n2}", False)])


def _t_appos(r):
    name = r.choice(NAMES)
    n1, n2 = r.sample(NOUNS, 2)
    v = r.choice(TVERBS)
    return (f"{name}, a {n1}, {v[2]} the {n2}.",
            [(name, "_AKA", n1, "pos"), (name, v[0], n2, "pos")],
            [(name, "propername"), (n1, "entity"), (n2, "entity")],
            [("NP", name, False), ("NP", f"a {n1}", False),
             ("VP", v[2], False), ("NP", f"the {n2}", False)])


def _t_conj_subj(r):
    a, b = r.sample(NAMES, 2)
    n = r.choice(NOUNS)
    v = r.choice(TVERBS)
    return (f"{a} and {b} {v[2]} the {n}.",
            [(a, v[0], n, "pos"), (b, v[0], n, "pos")],
            [(a, "propername"), (b, "propername"), (n, "entity")],
            [("NP", a, False), ("NP", b, False), ("VP", v[2], False),
             ("NP", f"the {n}", False)])


def _t_conj_obj(r):
    n1, n2, n3 = r.sample(NOUNS, 3)
    v = r.choice(TVERBS)
    return (f"The {n1} {v[1]} the {n2} and the {n3}.",
            [(n1, v[0], n2, "pos"), (n1, v[0], n3, "pos")],
            [(n1, "entity"), (n2, "entity"), (n3, "entity")],
            [("NP", f"The {n1}", False), ("VP", v[1], False),
             ("NP", f"the {n2}", False), ("NP", f"the {n3}", False)])


def _t_pronoun(r):
    p_surf, p_stem = r.choice(PRONOUN_SUBJ)
    n = r.choice(NOUNS)
    v = r.choice(TVERBS)
    return (f"{p_surf} {v[2]} the {n}.",
            [(p_stem, v[0], n, "pos")],
            [(p_stem, "pronoun"), (n, "entity")],
            [("NP", p_surf, False), ("VP", v[2], False),
             ("NP", f"the {n}", False)])


def _t_neg(r):
    n1, n2 = r.sample(NOUNS, 2)
    v = r.choice(TVERBS)
    return (f"The {n1} did not {v[0]} the {n2}.",
            [(n1, v[0], n2, "neg")],
            [(n1, "entity"), (n2, "entity")],
            [("NP", f"The {n1}", False), ("VP", f"did not {v[0]}", False),
             ("NP", f"the {n2}", False)])


def _t_city(r):
    name = r.choice(NAMES)
    city_surf, city_stem = r.choice(CITIES)
    return (f"{name} visited {city_surf}.",
            [(name, "visit", city_stem, "pos")],
            [(name, "propername"), (city_stem, "propername")],
            [("NP", name, False), ("VP", "visited", False),
             ("NP", city_surf, False)])


def _t_intrans(r):
    n = r.choice(NOUNS)
    v = r.choice(IVERBS)
    return (f"The {n} {v[2]}.",
            [(n, v[0], "", "pos")],
            [(n, "entity")],
            [("NP", f"The {n}", False), ("VP", v[2], False)])


def _t_modal(r):
    name = r.choice(NAMES)
    n = r.choice(NOUNS)
    v = r.choice(TVERBS)
    return (f"{name} can {v[0]} the {n}.",
            [(name, v[0], n, "pos", "can", "ARG1", "")],
            [(name, "propername"), (n, "entity")],
            [("NP", name, False), ("VP", f"can {v[0]}", False),
             ("NP", f"the {n}", False)])


def _t_numdate(r):
    n1, n2 = r.sample(NOUNS, 2)
    v = r.choice(TVERBS)
    k = r.randint(2, 9)
    month = r.choice(MONTH_NAMES)
    day = r.randint(1, 28)
    return (f"The {n1} {v[2]} {k} {PLURAL[n2]} on {month} {day}.",
            [(n1, v[0], n2, "pos")],
            [(n1, "entity"), (n2, "entity")],
            [("NP", f"The {n1}", False), ("VP", v[2], False),
             ("NP", f"{k} {PLURAL[n2]}", False),
             ("NP", f"{month} {day}", False),
             ("PP", f"on {month} {day}", True)])


def _t_vp_coord(r):
    name = r.choice(NAMES)
    n1, n2 = r.sample(NOUNS, 2)
    v1, v2 = r.sample(TVERBS, 2)
    return (f"{name} {v1[2]} the {n1} and {v2[2]} the {n2}.",
            [(name, v1[0], n1, "pos"), (name, v2[0], n2, "pos")],
            [(name, "propername"), (n1, "entity"), (n2, "entity")],
            [("NP", name, False), ("VP", v1[2], False),
             ("NP", f"the {n1}", False), ("VP", v2[2], False),
             ("NP", f"the {n2}", False)])


def _t_clause_coord(r):
    a, b = r.sample(NAMES, 2)
    n1, n2 = r.sample(NOUNS, 2)
    v1, v2 = r.sample(TVERBS, 2)
    return (f"{a} {v1[2]} the {n1} and {b} {v2[2]} the {n2}.",
            [(a, v1[0], n1, "pos"), (b, v2[0], n2, "pos")],
            [(a, "propername"), (n1, "entity"),
             (b, "propername"), (n2, "entity")],
            [("NP", a, False), ("VP", v1[2], False),
             ("NP", f"the {n1}", False), ("NP", b, False),
             ("VP", v2[2], False), ("NP", f"the {n2}", False)])


def _t_send_to(r):
    a, b = r.sample(NAMES, 2)
    n = r.choice(NOUNS)
    # dative 'to' recipient is an oblique _ARG2 triple (lexeme.py:617-743)
    return (f"{a} sent the {n} to {b}.",
            [(a, "send", n, "pos", "", "ARG1", ""),
             (a, "send", b, "pos", "", "ARG2", "to")],
            [(a, "propername"), (n, "entity"), (b, "propername")],
            [("NP", a, False), ("VP", "sent", False),
             ("NP", f"the {n}", False), ("NP", b, False),
             ("PP", f"to {b}", False)])


def _t_pp_complement(r):
    n1, n2 = r.sample(NOUNS, 2)
    return (f"The {n1} protested against the new {n2}.",
            [(n1, "protest", n2, "pos", "", "ARG2", "against")],
            [(n1, "entity"), (n2, "entity")],
            [("NP", f"The {n1}", False), ("VP", "protested", False),
             ("ADJP", "new", True), ("NP", f"the new {n2}", False),
             ("PP", f"against the new {n2}", False)])


def _t_relative(r):
    n1, n2, n3 = r.sample(NOUNS, 3)
    v1, v2 = r.sample(TVERBS, 2)
    return (f"The {n1} who {v1[2]} the {n2} {v2[2]} the {n3}.",
            [(n1, v1[0], n2, "pos"), (n1, v2[0], n3, "pos")],
            [(n1, "entity"), (n2, "entity"), (n3, "entity")],
            [("NP", f"The {n1}", False), ("VP", v1[2], False),
             ("NP", f"the {n2}", False), ("VP", v2[2], False),
             ("NP", f"the {n3}", False)])


def _t_ditransitive(r):
    a, b = r.sample(NAMES, 2)
    n = r.choice(NOUNS)
    v = r.choice([("give", "gave"), ("send", "sent"), ("show", "showed")])
    return (f"{a} {v[1]} {b} the {n}.",
            [(a, v[0], b, "pos", "", "ARG2", ""),
             (a, v[0], n, "pos", "", "ARG1", "")],
            [(a, "propername"), (b, "propername"), (n, "entity")],
            [("NP", a, False), ("VP", v[1], False), ("NP", b, False),
             ("NP", f"the {n}", False)])


def _t_imperative(r):
    n = r.choice(NOUNS)
    v = r.choice(TVERBS)
    return (f"{v[0].capitalize()} the {n}.",
            [("", v[0], n, "pos")],
            [(n, "entity")],
            [("VP", v[0].capitalize(), False), ("NP", f"the {n}", False)])


def _t_wh_subj(r):
    # subject wh-question (reference S[wq], ccg/__init__.py:1301-1409)
    n = r.choice(NOUNS)
    v = r.choice(TVERBS)
    return (f"Who {v[2]} the {n}?",
            [("who", v[0], n, "pos")],
            [(n, "entity")],
            [("VP", v[2], False), ("NP", f"the {n}", False)])


def _t_wh_obj(r):
    # object wh-question with do-support: the wh word is the fronted ARG1
    name = r.choice(NAMES)
    v = r.choice(TVERBS)
    return (f"What did {name} {v[0]}?",
            [(name, v[0], "what", "pos")],
            [(name, "propername")],
            [("NP", name, False), ("VP", v[0], False)])


def _t_obj_relative(r):
    # object relative clause: head NP is the embedded verb's object
    n1, n2 = r.sample(NOUNS, 2)
    name = r.choice(NAMES)
    v1, v2 = r.sample(TVERBS, 2)
    return (f"The {n1} that {name} {v1[2]} {v2[2]} the {n2}.",
            [(name, v1[0], n1, "pos"), (n1, v2[0], n2, "pos")],
            [(n1, "entity"), (name, "propername"), (n2, "entity")],
            [("NP", f"The {n1}", False), ("NP", name, False),
             ("VP", v1[2], False), ("VP", v2[2], False),
             ("NP", f"the {n2}", False)])


SAY_VERBS = [("say", "said"), ("report", "reported"),
             ("think", "thought"), ("believe", "believed")]


def _t_comp_clause(r):
    # verb complement clause (reference S[em] complements,
    # lexeme.py:744-770): the proposition is the ARG1 event
    name = r.choice(NAMES)
    say = r.choice(SAY_VERBS)
    n = r.choice(NOUNS)
    iv = r.choice(IVERBS)
    return (f"{name} {say[1]} that the {n} {iv[2]}.",
            [(name, say[0], iv[0], "pos"), (n, iv[0], "", "pos", "", "", "")],
            [(name, "propername"), (n, "entity")],
            [("NP", name, False), ("VP", say[1], False),
             ("NP", f"the {n}", False), ("VP", iv[2], False)])


def _t_obj_rel_in_object(r):
    # relative clause on the OBJECT head, object-gap variant
    a, b = r.sample(NAMES, 2)
    n1 = r.choice(NOUNS)
    v1, v2 = r.sample(TVERBS, 2)
    return (f"{a} {v1[2]} the {n1} that {b} {v2[2]}.",
            [(a, v1[0], n1, "pos"), (b, v2[0], n1, "pos")],
            [(a, "propername"), (n1, "entity"), (b, "propername")],
            [("NP", a, False), ("VP", v1[2], False),
             ("NP", f"the {n1}", False), ("NP", b, False),
             ("VP", v2[2], False)])


def _t_subj_rel_in_object(r):
    # relative clause on the OBJECT head, subject-gap variant
    a = r.choice(NAMES)
    n1 = r.choice(NOUNS)
    v1 = r.choice(TVERBS)
    iv = r.choice(IVERBS)
    return (f"{a} {v1[2]} the {n1} that {iv[2]}.",
            [(a, v1[0], n1, "pos"), (n1, iv[0], "", "pos", "", "", "")],
            [(a, "propername"), (n1, "entity")],
            [("NP", a, False), ("VP", v1[2], False),
             ("NP", f"the {n1}", False), ("VP", iv[2], False)])


def _t_sub_initial(r):
    # sentence-initial subordinate clause (temporal/causal)
    sub = r.choice(["When", "Because", "Although"])
    n1, n2 = r.sample(NOUNS, 2)
    iv = r.choice(IVERBS)
    name = r.choice(NAMES)
    v = r.choice(TVERBS)
    return (f"{sub} the {n1} {iv[2]}, {name} {v[2]} the {n2}.",
            [(n1, iv[0], "", "pos", "", "", ""),
             (name, v[0], n2, "pos")],
            [(n1, "entity"), (name, "propername"), (n2, "entity")],
            [("NP", f"the {n1}", False), ("VP", iv[2], False),
             ("NP", name, False), ("VP", v[2], False),
             ("NP", f"the {n2}", False)])


def _t_sub_trailing(r):
    # trailing subordinate clause ('because' SUB / 'after' clause-after-PP)
    sub = r.choice(["because", "after", "before", "unless"])
    n1, n2 = r.sample(NOUNS, 2)
    iv = r.choice(IVERBS)
    name = r.choice(NAMES)
    v = r.choice(TVERBS)
    return (f"{name} {v[2]} the {n1} {sub} the {n2} {iv[2]}.",
            [(name, v[0], n1, "pos"),
             (n2, iv[0], "", "pos", "", "", "")],
            [(name, "propername"), (n1, "entity"), (n2, "entity")],
            [("NP", name, False), ("VP", v[2], False),
             ("NP", f"the {n1}", False), ("NP", f"the {n2}", False),
             ("VP", iv[2], False)])


def _t_list_subj(r):
    # comma-separated subject list (with optional Oxford comma)
    a, b, c = r.sample(NAMES, 3)
    n = r.choice(NOUNS)
    v = r.choice(TVERBS)
    oxford = ", and" if r.random() < 0.5 else " and"
    return (f"{a}, {b}{oxford} {c} {v[2]} the {n}.",
            [(a, v[0], n, "pos"), (b, v[0], n, "pos"), (c, v[0], n, "pos")],
            [(a, "propername"), (b, "propername"), (c, "propername"),
             (n, "entity")],
            [("NP", a, False), ("NP", b, False), ("NP", c, False),
             ("VP", v[2], False), ("NP", f"the {n}", False)])


def _t_list_obj(r):
    # comma-separated object list
    n1, n2, n3, n4 = r.sample(NOUNS, 4)
    v = r.choice(TVERBS)
    return (f"The {n1} {v[1]} the {n2}, the {n3} and the {n4}.",
            [(n1, v[0], n2, "pos"), (n1, v[0], n3, "pos"),
             (n1, v[0], n4, "pos")],
            [(n1, "entity"), (n2, "entity"), (n3, "entity"),
             (n4, "entity")],
            [("NP", f"The {n1}", False), ("VP", v[1], False),
             ("NP", f"the {n2}", False), ("NP", f"the {n3}", False),
             ("NP", f"the {n4}", False)])


def _t_copular_pp(r):
    # locative copular: sole PP complement carries the preposition
    n1, n2 = r.sample(NOUNS, 2)
    prep = r.choice(["in", "on"])
    return (f"The {n1} is {prep} the {n2}.",
            [(n1, "be", n2, "pos", "", "ARG2", prep)],
            [(n1, "entity"), (n2, "entity")],
            [("NP", f"The {n1}", False), ("VP", "is", False),
             ("NP", f"the {n2}", False), ("PP", f"{prep} the {n2}", False)])


def _t_have(r):
    # possession via 'have' (aux-as-main-verb), optionally negated
    name = r.choice(NAMES)
    n = r.choice(NOUNS)
    if r.random() < 0.5:
        return (f"{name} has a {n}.",
                [(name, "have", n, "pos")],
                [(name, "propername"), (n, "entity")],
                [("NP", name, False), ("VP", "has", False),
                 ("NP", f"a {n}", False)])
    return (f"{name} does not have a {n}.",
            [(name, "have", n, "neg")],
            [(name, "propername"), (n, "entity")],
            [("NP", name, False), ("VP", "does not have", False),
             ("NP", f"a {n}", False)])


def _t_control_verbs(r):
    # control verbs beyond 'want': needs/tries to V
    n1, n2 = r.sample(NOUNS, 2)
    ctl = r.choice([("need", "needs"), ("try", "tries")])
    inner = r.choice(CONTROL_INNER)
    return (f"The {n1} {ctl[1]} to {inner} the {n2}.",
            [(n1, ctl[0], inner, "pos"), (n1, inner, n2, "pos")],
            [(n1, "entity"), (n2, "entity")],
            [("NP", f"The {n1}", False), ("VP", ctl[1], False),
             ("S_INF", f"to {inner}", False), ("NP", f"the {n2}", False)])


def _t_fragment(r):
    # bare NP fragment turn ("The urgent ticket.") — no event, so the
    # mention is a genuine orphan (exercises the kg_orphans anti-join
    # with non-empty output)
    a = r.choice(ADJS)
    n = r.choice(NOUNS)
    return (f"The {a} {n}.",
            [],
            [(n, "entity")],
            [("ADJP", a, True), ("NP", f"The {a} {n}", False)])


def _t_modal_question(r):
    # inverted modal request ("Can you deploy the service?") — the
    # stranded modal carries onto the clause event
    md = r.choice(["Can", "Could", "Would", "Will"])
    n = r.choice(NOUNS)
    v = r.choice(TVERBS)
    return (f"{md} you {v[0]} the {n}?",
            [("you", v[0], n, "pos", md.lower(), "ARG1", "")],
            [("you", "pronoun"), (n, "entity")],
            [("NP", "you", False), ("VP", v[0], False),
             ("NP", f"the {n}", False)])


def _t_discourse(r):
    # transcript boilerplate: interjection prefix must not become a
    # mention or subject; 'Please' keeps the imperative reading
    style = r.randint(0, 2)
    n = r.choice(NOUNS)
    v = r.choice(TVERBS)
    if style == 0:
        return (f"Please {v[0]} the {n}.",
                [("", v[0], n, "pos")],
                [(n, "entity")],
                [("ADVP", "Please", True),
                 ("VP", f"Please {v[0]}", False),
                 ("NP", f"the {n}", False)])
    name = r.choice(NAMES)
    marker = r.choice(["Thanks", "Okay", "Yes", "Sure"])
    return (f"{marker}, {name} {v[2]} the {n}.",
            [(name, v[0], n, "pos")],
            [(name, "propername"), (n, "entity")],
            [("NP", name, False), ("VP", v[2], False),
             ("NP", f"the {n}", False)])


def _t_it_subject(r):
    # impersonal pronoun / demonstrative subject — downstream, kind-aware
    # coref binds it to the nearest ENTITY mention (verdict #10)
    surf, stem = r.choice([("It", "it"), ("This", "this")])
    if r.random() < 0.5:
        n = r.choice(NOUNS)
        v = r.choice(TVERBS)
        return (f"{surf} {v[2]} the {n}.",
                [(stem, v[0], n, "pos")],
                [(stem, "pronoun"), (n, "entity")],
                [("NP", surf, False), ("VP", v[2], False),
                 ("NP", f"the {n}", False)])
    iv = r.choice(IVERBS)
    return (f"{surf} {iv[2]}.",
            [(stem, iv[0], "", "pos")],
            [(stem, "pronoun")],
            [("NP", surf, False), ("VP", iv[2], False)])


def _t_passive_agentless(r):
    # agentless passive: the surface subject is the PATIENT (_ARG1);
    # _ARG0 stays unresolved (reference lexeme.py:662-679)
    n = r.choice(NOUNS)
    v = r.choice(TVERBS)
    return (f"The {n} was {v[3]}.",
            [("", v[0], n, "pos")],
            [(n, "entity")],
            [("NP", f"The {n}", False), ("VP", f"was {v[3]}", False)])


def _t_existential(r):
    # existential 'there': no referent for 'there' itself
    n1, n2 = r.sample(NOUNS, 2)
    return (f"There is a {n1} in the {n2}.",
            [("", "be", n1, "pos")],
            [(n1, "entity"), (n2, "entity")],
            [("VP", "is", False), ("NP", f"a {n1}", False),
             ("NP", f"the {n2}", False), ("PP", f"in the {n2}", True)])


TEMPLATES = [
    _t_svo, _t_svo_name, _t_control, _t_copular_np, _t_copular_adj,
    _t_passive, _t_poss, _t_appos, _t_conj_subj, _t_conj_obj, _t_pronoun,
    _t_neg, _t_city, _t_intrans, _t_modal, _t_numdate, _t_vp_coord,
    _t_clause_coord, _t_send_to, _t_pp_complement, _t_relative,
    _t_ditransitive, _t_imperative, _t_wh_subj, _t_wh_obj, _t_obj_relative,
    _t_comp_clause, _t_obj_rel_in_object, _t_subj_rel_in_object,
    _t_sub_initial, _t_sub_trailing, _t_list_subj, _t_list_obj,
    _t_discourse, _t_passive_agentless, _t_existential,
    _t_modal_question, _t_fragment, _t_copular_pp,
    _t_have, _t_control_verbs, _t_it_subject,
]

ROLES = ["user", "assistant"]
TOOLS = ["search", "code", "browser", "calculator"]

_EPOCH = datetime(2025, 1, 1)


def generate_corpus(n_convs: int = 200, seed: int = 42,
                    mega_frac: float = 0.01, mega_mult: int = 25,
                    min_turns: int = 1, max_turns: int = 12,
                    max_sents_per_turn: int = 3):
    """→ (transcript_rows, golden_triple_rows, golden_mention_rows).

    transcript row:   (conv_id, turn_idx, role, text, tool, ts)
    triple row:       (conv_id, turn_idx, sent_idx, subj, pred, obj,
                       polarity, modal, role, prep)
    mention row:      (conv_id, turn_idx, sent_idx, stem, kind)
    constituent row:  (conv_id, turn_idx, sent_idx, vntype, surface,
                       adjunct) — template-defined phrase inventory
    """
    t_rows, g_rows, m_rows, c_rows = [], [], [], []
    for ci in range(n_convs):
        r = random.Random(f"{seed}:{ci}")
        conv_id = f"conv{ci:06d}"
        n_turns = r.randint(min_turns, max_turns)
        if r.random() < mega_frac:
            n_turns *= mega_mult  # mega-conversation (skew knob)
        t0 = _EPOCH + timedelta(hours=ci)
        for ti in range(n_turns):
            n_sents = r.randint(1, max_sents_per_turn)
            sents, role = [], ROLES[ti % 2]
            tool = ""
            if ti == 0 and ci % 5 == 0:
                role = "system"     # input_hint role domain incl. 'system'
            elif ti % 7 == 3:
                role, tool = "tool", r.choice(TOOLS)
            for si in range(n_sents):
                text, triples, mentions, consts = r.choice(TEMPLATES)(r)
                sents.append(text)
                for tr in triples:
                    (s, p, o, pol, modal, trole, prep) = _norm_triple(tr)
                    g_rows.append((conv_id, ti, si, s, p, o, pol,
                                   modal, trole, prep))
                for (stem, kind) in mentions:
                    m_rows.append((conv_id, ti, si, stem, kind))
                for (vntype, surf, adj) in consts:
                    c_rows.append((conv_id, ti, si, vntype, surf, adj))
            t_rows.append((conv_id, ti, role, " ".join(sents), tool,
                           t0 + timedelta(seconds=30 * ti)))
    return t_rows, g_rows, m_rows, c_rows


def generate_conv(ci: int, seed: int = 42, mega_frac: float = 0.01,
                  mega_mult: int = 25, min_turns: int = 1,
                  max_turns: int = 12, max_sents_per_turn: int = 3):
    """Rows for ONE conversation (same semantics as generate_corpus, but
    callable per-conv so generation can run distributed)."""
    r = random.Random(f"{seed}:{ci}")
    conv_id = f"conv{ci:06d}"
    n_turns = r.randint(min_turns, max_turns)
    if r.random() < mega_frac:
        n_turns *= mega_mult
    t0 = _EPOCH + timedelta(hours=ci)
    rows = []
    for ti in range(n_turns):
        n_sents = r.randint(1, max_sents_per_turn)
        sents, role, tool = [], ROLES[ti % 2], ""
        if ti == 0 and ci % 5 == 0:
            role = "system"
        elif ti % 7 == 3:
            role, tool = "tool", r.choice(TOOLS)
        for _ in range(n_sents):
            text = r.choice(TEMPLATES)(r)[0]
            sents.append(text)
        rows.append((conv_id, ti, role, " ".join(sents), tool,
                     t0 + timedelta(seconds=30 * ti)))
    return rows


def transcripts_spark(spark, n_convs: int, seed: int = 42,
                      partitions: int | None = None, **kw):
    """Distributed deterministic corpus: spark.range over conv indexes →
    mapInPandas generation.  Identical rows for a given (n_convs, seed)
    regardless of partitioning — generation is seeded per conversation."""
    import pandas as _pd
    from ie_spark.pipeline.extract import TRANSCRIPT_SCHEMA

    # one task per core, not two: conversations are uniform work units, so
    # a single wave of full tasks beats two waves of half tasks (measured
    # 1.95→1.68 s for the 199k-turn extraction pass at local[32]); callers
    # with skewed per-conversation cost should pass `partitions` explicitly
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            rows = []
            for ci in pdf["id"]:
                rows.extend(generate_conv(int(ci), seed=seed, **kw))
            yield _pd.DataFrame(
                rows, columns=["conv_id", "turn_idx", "role",
                               "text", "tool", "ts"])

    df = (spark.range(n_convs).repartition(parts)
          .mapInPandas(gen, schema=TRANSCRIPT_SCHEMA))
    return df


def corpus_constituents_golden(n_convs: int = 200, seed: int = 42,
                               **kw) -> pd.DataFrame:
    """Template-defined golden constituent inventory for the corpus
    (conv_id, turn_idx, sent_idx, vntype, surface, adjunct)."""
    _, _, _, c_rows = generate_corpus(n_convs, seed, **kw)
    return pd.DataFrame(c_rows, columns=[
        "conv_id", "turn_idx", "sent_idx", "vntype", "surface", "adjunct"])


def corpus_to_pandas(n_convs: int = 200, seed: int = 42, **kw):
    """Same, as pandas DataFrames (Spark-friendly dtypes)."""
    t_rows, g_rows, m_rows, _ = generate_corpus(n_convs, seed, **kw)
    transcripts = pd.DataFrame(
        t_rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    transcripts["turn_idx"] = transcripts["turn_idx"].astype("int32")
    golden_triples = pd.DataFrame(
        g_rows, columns=["conv_id", "turn_idx", "sent_idx",
                         "subj", "pred", "obj", "polarity",
                         "modal", "role", "prep"])
    golden_mentions = pd.DataFrame(
        m_rows, columns=["conv_id", "turn_idx", "sent_idx", "stem", "kind"])
    return transcripts, golden_triples, golden_mentions
