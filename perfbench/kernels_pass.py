"""Spark-free pass over the flagship kernel chain, timed per kernel.

Replays ``kernels.pipeline.annotate_sentence`` (the ``full=False`` path that
``extract_turn`` runs) by calling each public kernel function in turn and
timing every call, so the per-turn cost of each layer is measured where the
work happens. The replay's triple count is compared with ``extract_turn``
over the same texts: a mismatch means the program's chain changed and this
replay no longer measures it.
"""

from __future__ import annotations

import time
from collections import defaultdict

from nlp_lib_spark.kernels.blind import blind
from nlp_lib_spark.kernels.depparse import dep_parse
from nlp_lib_spark.kernels.pipeline import extract_turn, fused_subj_obj
from nlp_lib_spark.kernels.postag import pos_tag
from nlp_lib_spark.kernels.rules import predict_interactions
from nlp_lib_spark.kernels.simplify import simplify
from nlp_lib_spark.kernels.text import (split_sentences, strip_citations,
                                        tokenize)

LAYERS = ("text.split", "text.tokenize", "gazetteer", "blind", "simplify",
          "postag", "domain", "depparse", "rules")


def kernel_pass(texts: list[str], config) -> dict[str, float]:
    rt = config.build()
    ns: dict[str, int] = defaultdict(int)
    sentences = trivial = rule_calls = rule_hits = triples = 0
    clock = time.perf_counter_ns
    for text in texts:
        t0 = clock()
        sents = split_sentences(strip_citations(text))
        ns["text.split"] += clock() - t0
        for sentence in sents:
            sentences += 1
            t0 = clock()
            tokens = tokenize(sentence)
            t1 = clock()
            ns["text.tokenize"] += t1 - t0
            if len(tokens) > rt.max_sent_tokens:
                continue
            iob = rt.gazetteer.tag_iob(tokens)
            t2 = clock()
            blinded, mapping, entity_count = blind(tokens, iob)
            t3 = clock()
            ns["gazetteer"] += t2 - t1
            ns["blind"] += t3 - t2
            if entity_count <= 1:
                trivial += 1
                continue
            blinded = simplify(blinded)
            t4 = clock()
            pos = pos_tag(blinded, rt.verb_stems)
            t5 = clock()
            domain = rt.domain.tag(blinded)
            t6 = clock()
            edges = dep_parse(blinded, pos)
            t7 = clock()
            ns["simplify"] += t4 - t3
            ns["postag"] += t5 - t4
            ns["domain"] += t6 - t5
            ns["depparse"] += t7 - t6
            if entity_count > rt.max_mentions:
                continue
            pairs = predict_interactions(blinded, pos, domain, edges)
            ns["rules"] += clock() - t7
            rule_calls += 1
            rule_hits += bool(pairs)
            triples += sum(1 for (i, j) in pairs
                           if i != j or fused_subj_obj(mapping, blinded[i]))
    n = max(1, len(texts))
    out = {f"kernels.{k}_us": ns[k] / n / 1e3 for k in LAYERS}
    out["kernels.total_us"] = sum(ns.values()) / n / 1e3
    out.update({
        "kernels.sentences": float(sentences),
        "kernels.trivial_skip_ratio": trivial / max(1, sentences),
        "kernels.rule_calls": float(rule_calls),
        "kernels.rule_hit_ratio": rule_hits / max(1, rule_calls),
        "kernels.triples": float(triples),
        "kernels.replica_matches": float(
            triples == sum(len(extract_turn(rt, t)) for t in texts if t)),
    })
    return out
