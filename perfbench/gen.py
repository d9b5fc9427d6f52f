"""Seeded corpus generator: samples LDA's own generative model.

Topics are Dirichlet(eta) rows over the vocabulary, each document draws
theta ~ Dirichlet(alpha) and a Poisson length, and every token picks a
topic from theta and a word from that topic, both by inverse-CDF over
cumulative rows (``searchsorted``), so a whole corpus is a handful of
vectorised numpy calls.  The program under test only ever sees the files
written here; the generating topics stay with the benchmark for the
topic-recovery check.
"""

from __future__ import annotations

import json
import os

import numpy as np

TOPIC_ETA = 0.05  # sparse topics: each is recoverable from its top terms
DOC_ALPHA = 0.1   # few topics per document


def _draw_tokens(rng, theta_cdf, topic_cdf, lengths):
    """Token word ids for every document, concatenated in doc order."""
    doc_of_token = np.repeat(np.arange(len(lengths)), lengths)
    u = rng.random(doc_of_token.size)
    # Inverse CDF of theta per token: count the cumulative entries below u.
    topic = (theta_cdf[doc_of_token] < u[:, None]).sum(axis=1)
    topic = np.minimum(topic, theta_cdf.shape[1] - 1)
    word = np.empty(doc_of_token.size, dtype=np.int64)
    v = rng.random(doc_of_token.size)
    for k in range(topic_cdf.shape[0]):
        sel = topic == k
        word[sel] = np.searchsorted(topic_cdf[k], v[sel], side="right")
    return np.minimum(word, topic_cdf.shape[1] - 1)


def _topics(rng, n_topics, vocab):
    beta = rng.dirichlet(np.full(vocab, TOPIC_ETA), size=n_topics)
    cdf = np.cumsum(beta, axis=1)
    cdf[:, -1] = 1.0
    return beta, cdf


def _texts(prefix, words, lengths):
    """One whitespace-joined text per document."""
    names = np.char.add(prefix, np.arange(words.max() + 1).astype(str))
    tokens = names[words]
    ends = np.cumsum(lengths)
    return [" ".join(tokens[e - n:e]) for e, n in zip(ends, lengths)]


def top_words(beta, prefix, n=10):
    """The n most probable words of each generating topic."""
    order = np.argsort(-beta, axis=1, kind="stable")[:, :n]
    return [[f"{prefix}{w}" for w in row] for row in order]


def generate_mono(seed, n_docs, mean_len, vocab, n_topics):
    """Returns (doc_ids, texts, token_count, generating top words)."""
    rng = np.random.default_rng(seed)
    beta, topic_cdf = _topics(rng, n_topics, vocab)
    theta = rng.dirichlet(np.full(n_topics, DOC_ALPHA), size=n_docs)
    lengths = np.maximum(1, rng.poisson(mean_len, size=n_docs))
    words = _draw_tokens(rng, np.cumsum(theta, axis=1), topic_cdf, lengths)
    return (
        np.arange(1, n_docs + 1, dtype=np.int64),
        _texts("w", words, lengths),
        int(lengths.sum()),
        top_words(beta, "w"),
    )


def generate_poly(seed, n_docs, mean_len, vocab, n_topics, n_langs=2):
    """Polylingual corpus: every language side of a document draws from
    the same theta, through that language's own topics.

    Returns (texts per language, words per doc per language, generating
    top words per language)."""
    rng = np.random.default_rng(seed)
    theta_cdf = np.cumsum(
        rng.dirichlet(np.full(n_topics, DOC_ALPHA), size=n_docs), axis=1
    )
    texts, words_by_doc, tops = [], [], []
    for lang in range(n_langs):
        prefix = chr(ord("a") + lang)
        beta, topic_cdf = _topics(rng, n_topics, vocab)
        lengths = np.maximum(1, rng.poisson(mean_len, size=n_docs))
        words = _draw_tokens(rng, theta_cdf, topic_cdf, lengths)
        texts.append(_texts(prefix, words, lengths))
        words_by_doc.append(np.split(words, np.cumsum(lengths)[:-1]))
        tops.append(top_words(beta, prefix))
    return texts, words_by_doc, tops


def write_mono(out_dir, seed, n_docs, mean_len, vocab, n_topics):
    """Documents parquet for ``parse`` plus the benchmark's truth file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    doc_ids, texts, n_tokens, tops = generate_mono(
        seed, n_docs, mean_len, vocab, n_topics
    )
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table({"doc_id": pa.array(doc_ids), "text": pa.array(texts)})
    # Several row groups so the scan splits across cores.
    pq.write_table(
        table, os.path.join(out_dir, "documents.parquet"),
        row_group_size=max(1, n_docs // 8),
    )
    truth = {"documents": n_docs, "tokens": n_tokens, "top_words": tops}
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    return truth


def write_poly(out_dir, seed, n_docs, mean_len, vocab, n_topics,
               heldout_frac=0.1):
    """``docId\\ttext0\\ttext1`` raw files: a training file and a
    held-out file of the last ``heldout_frac`` of the documents."""
    texts, words_by_doc, tops = generate_poly(
        seed, n_docs, mean_len, vocab, n_topics
    )
    n_test = max(1, int(round(n_docs * heldout_frac)))
    n_train = n_docs - n_test
    os.makedirs(out_dir, exist_ok=True)
    for name, rows in (("train.txt", range(n_train)),
                       ("heldout.txt", range(n_train, n_docs))):
        with open(os.path.join(out_dir, name), "w") as fh:
            for d in rows:
                fh.write(f"doc{d:07d}\t" + "\t".join(t[d] for t in texts) + "\n")
    # Held-out tokens the model can score: words seen in training.
    scored = 0
    for words in words_by_doc:
        seen = np.zeros(vocab, dtype=bool)
        for d in range(n_train):
            seen[words[d]] = True
        scored += int(sum(seen[words[d]].sum() for d in range(n_train, n_docs)))
    truth = {
        "documents": n_train,
        "heldout_documents": n_test,
        "tokens": int(sum(w[d].size for w in words_by_doc for d in range(n_train))),
        "heldout_scored_tokens": scored,
        "top_words": tops,
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    return truth
