"""Index build pipeline: pages -> docs / terms / postings (+ meta).

Spark-first re-expression of the reference's index build (IndexTool ->
IndexerImpl -> BlackLab40PostingsWriter, see SURVEY.md §3.3): where the
reference inverts term vectors through a two-pass temp file per Lucene segment
(engine/.../codec/BlackLab40PostingsWriter.java:246-330), we do ONE declarative
shuffle — docs repartitionByRange(shard) — and a whole-shard Arrow kernel
(_encode_shard_kernel) that explodes, sorts and bulk-encodes the posting
blocks in numpy (codec.encode_blocks: every block of a column per pass). The
JVM never materializes the token stream: shipping compact doc rows (token
arrays as Arrow lists) measured ~3x faster end-to-end than posexplode + JVM
sort + per-token Arrow transfer.

The terms dictionary DERIVES from the blocks table (df = sum(doc_count),
cf = sum(tf_sum) — exact: a doc hits exactly one block per (shard, term) and
shard doc-ranges are disjoint), so no separate stats aggregation pass over
the token stream exists; term_ids are joined back onto the compact blocks
table, never onto raw tokens.

Sharding = skew handling: postings are partitioned by contiguous doc-id range
("shard", FIXTURES column name `salt`). A head term's mega posting list is
split across all shards by construction; every shard holds all terms for its
doc range, so phrase intersection, WAND scoring and KWIC are shard-local with
no query-time shuffle of the posting data.

Scale notes (100 TB / 10^12 docs):
- n_shards scales with corpus size (target: one shard's token stream ~ a few
  hundred MB so the whole-shard kernel fits an executor comfortably).
- the only big shuffles are (a) the url-only id rank (narrow), (b) the shard
  repartition of doc rows. The page payload crosses the wire once.
- block CONTENT per (shard, term) is deterministic (docs/positions fully
  sorted); block ROW ORDER follows dictionary first-appearance and is not —
  every consumer keys by term, never row order.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import B, K1
from .codec import delta_encode_segmented, encode_blocks
from .rank import assign_dense_ids
from .storage import parquet_rows, read_parquet, write_json
from .tokenize import (
    TOKENIZER_VERSION,
    extract_text_series,
    fold_series,
    sentence_spans_series,
    tokenize_series,
)

DEFAULT_BLOCK = 128
# posting-block rows per encode-kernel output batch, and the most position
# values one batch encodes (a lone larger block still makes its own batch):
# bounds the bulk encoder's per-block and per-value temporaries
EMIT_BLOCKS = 16384
EMIT_VALUES = 1 << 21
# bumped on any docs/terms/postings/meta schema change; 11 = `multi_value`
# meta key REQUIRED (a pre-flag v10 mv index would silently skip the span
# dedupe — ADVICE r4). 12 = every posting blob leads with a codec tag byte
# (BLOB_VARINT / BLOB_PFOR, codec.py) — pre-12 untagged blobs CANNOT be
# decoded by tag dispatch, so Index.load hard-refuses older segments.
FORMAT_VERSION = 12

# annotation layers (reference: one parallel layer per annotation,
# AnnotatedFieldWriter.java:20-44). "word" posts SURFACE terms (sensitivity
# via the terms dict fold columns); "lemma"/"pos" are derived IN-KERNEL from
# the word dictionary (tokenize.lemma_fold/pos_fold over folded uniques), so
# enabling them adds NO bytes to the build shuffle.
DEFAULT_ANNOTATIONS = ("word",)


def parallel_field_names(columns) -> list[str]:
    """PARALLEL document versions carried by the input (reference: parallel
    corpora, one annotated field per version — contents__nl etc.): every
    `tokens_<field>` column that is not a derived annotation layer. Stored
    as a per-doc map; alignment relations use rclass 'al:<field>' with
    target positions in that field's token space."""
    return sorted(
        c[len("tokens_"):] for c in columns
        if c.startswith("tokens_") and c not in ("tokens_lemma", "tokens_pos")
    )

DOCS_SCHEMA = (
    "doc_id long, shard int, url string, warc_ts timestamp, lang string, text string, "
    "doc_len int, tokens array<string>, tokens_fold array<string>, "
    "tokens_lemma array<string>, tokens_pos array<string>, "
    "sents array<array<int>>, "
    "tags array<struct<name:string,start:int,end:int,attrs:map<string,string>>>, "
    "tok_offs array<int>, "
    "mv array<struct<p:int,v:string>>, "
    "relations array<struct<rclass:string,rtype:string,src_start:int,src_end:int,"
    "tgt_start:int,tgt_end:int>>"
)


def docs_schema(par_fields) -> str:
    """DOCS_SCHEMA + one TOP-LEVEL `par_<field>` column per parallel field.
    Top-level columns, not a map: parquet cannot prune a single map key, so
    a map would make every parallel-field query read every version's token
    stream (reference: one independent annotated field per version,
    AnnotatedFieldNameUtil parallel field naming)."""
    return DOCS_SCHEMA + "".join(f", par_{f} array<string>" for f in par_fields)
POSTINGS_SCHEMA = (
    "shard int, annot string, term_id long, block_id int, doc_count int, first_doc long, "
    "last_doc long, max_tf int, min_dl int, tf_sum long, doc_ids binary, "
    "tfs binary, dls binary, positions binary"
)
# intermediate blocks, keyed by (annot, surface term STRING) (the
# one-big-shuffle output; term_id is joined on afterwards over this table)
BLOCKS_SCHEMA = (
    "shard int, annot string, term string, block_id int, doc_count int, first_doc long, "
    "last_doc long, max_tf int, min_dl int, tf_sum long, doc_ids binary, "
    "tfs binary, dls binary, positions binary"
)
# blocks rows with a negative block_id post nothing: a FOLD_MARKER row holds
# a fold's df overcount in doc_count, a SUMMARY_BLOCK row one shard's counts
# as JSON in `positions` (block_summaries)
FOLD_MARKER, SUMMARY_BLOCK = -1, -2


# ------------------------------------------------------------ tokenization --
def tokenized_docs(
    pages: DataFrame,
    store_text: bool = True,
    annotations: tuple[str, ...] = DEFAULT_ANNOTATIONS,
    index_tags: tuple[str, ...] = (),
    store_offsets: bool = False,
    index_relations: bool = False,
) -> DataFrame:
    """pages (+doc_id,shard) -> tokenized docs, vectorized. Runs AFTER id
    assignment so the range-partitioner's sampling pass never tokenizes.

    store_text=False drops the text copy (40% of docs bytes): the INPUT pages
    table is the content store (SURVEY.md §1.1 decision); doc_contents /
    char-level concordances then need the pages table, not the index.

    annotations beyond "word" add per-token parallel layers (reference: one
    forward index per annotation, integrated.md:139-146): tokens_lemma
    (NULL-compressed when identical to the effective fold layer) and
    tokens_pos. Values derive from tokenize.lemma_fold/pos_fold on the
    DISTINCT folded tokens of the batch — per-unique, not per-token cost.

    index_tags: record real inline-tag spans (token positions) for these tag
    names from docs whose text came from their html (reference: per-format
    tag config, *.blf.yaml / integrated.md:34-123). store_offsets: keep each
    token's char start offset for char-exact concordances.

    index_relations: record dependency-style relations per doc (reference:
    relations indexed into the _relation annotation with source/target
    payloads, integrated.md:34-123 / RelationInfo.java). If the input pages
    carry a `relations` column (annotated input, the reference's CoNLL-U
    path) it passes through verbatim; otherwise a pinned deterministic
    stand-in derives one 'dep' relation per adjacent token pair with
    rtype = pos_fold(target token) — SQL-expressible for the oracle, a
    placeholder for an upstream parser exactly like the lemma/pos tagger."""
    from .tokenize import (
        lemma_array,
        pos_array,
        pos_fold,
        tag_spans_one,
        token_offsets_series,
    )

    want_lemma = "lemma" in annotations
    want_pos = "pos" in annotations
    # ANNOTATED INPUT (the reference's primary ingestion model — annotations
    # come WITH the document, e.g. CoNLL-U): a `tokens` input column
    # overrides tokenization; tokens_lemma/tokens_pos/sents/relations pass
    # through when present. Derived layers fill only what input lacks.
    annotated_input = "tokens" in pages.columns
    in_lemma = annotated_input and "tokens_lemma" in pages.columns
    in_pos = annotated_input and "tokens_pos" in pages.columns
    in_sents = annotated_input and "sents" in pages.columns
    par_fields = parallel_field_names(pages.columns)

    def kernel(batches):
        for pdf0 in batches:
            # self-chunk: wide rows (html+text+token arrays) want small
            # batches even when the session Arrow batch size is large
            for lo in range(0, len(pdf0), 8192):
                pdf = pdf0.iloc[lo : lo + 8192]
                if annotated_input:
                    # multi-value positions 'a|b|c' (reference: payload-
                    # flagged values at one token position, PayloadUtils.
                    # java:14-26): the FIRST value is the position's primary
                    # — it feeds the forward index and every derived layer,
                    # exactly the reference's forward-index behavior —
                    # while secondary values go to `mv` as (pos, value)
                    # pairs the blocks kernel posts at the same position.
                    raw_toks = [
                        list(x) if x is not None else []
                        for x in pdf["tokens"]
                    ]
                    firsts_l, mv_l = [], []
                    for ts in raw_toks:
                        if any("|" in t for t in ts):
                            firsts, extras = [], []
                            for i, t in enumerate(ts):
                                if "|" in t:
                                    parts = t.split("|")
                                    firsts.append(parts[0])
                                    extras.extend(
                                        (i, v) for v in parts[1:] if v
                                    )
                                else:
                                    firsts.append(t)
                            firsts_l.append(firsts)
                            mv_l.append(extras)
                        else:
                            firsts_l.append(ts)
                            mv_l.append([])
                    if "mv" in pdf.columns:
                        # compact path: stored secondary values pass through
                        # (tokens hold first values only after a build)
                        for j, st in enumerate(pdf["mv"]):
                            if st is not None and len(st):
                                mv_l[j] = list(mv_l[j]) + [
                                    (int(x["p"]), x["v"])
                                    if isinstance(x, dict)
                                    else (int(x[0]), x[1])
                                    for x in st
                                ]
                    toks = pd.Series(firsts_l, index=pdf.index, dtype=object)
                    mv_col = pd.Series(mv_l, index=pdf.index, dtype=object)
                    text = pd.Series(
                        [
                            t if t is not None else " ".join(tk)
                            for t, tk in zip(pdf["text"], toks)
                        ],
                        index=pdf.index, dtype=object,
                    )
                else:
                    text = extract_text_series(pdf["html"], pdf["text"])
                    toks = tokenize_series(text)
                    mv_col = pd.Series(
                        [[]] * len(pdf), index=pdf.index, dtype=object
                    )
                # dictionary fold: fold each DISTINCT token once per batch
                # (pandas str ops are per-element Python; Zipf vocab makes
                # uniques tiny)
                lens = toks.map(len).to_numpy(dtype=np.int64)
                none_col = pd.Series([None] * len(toks), index=toks.index, dtype=object)
                lemmas, poss = none_col, none_col
                if lens.sum():
                    flat = np.concatenate([np.asarray(t, dtype=object) for t in toks])
                    codes, uniq = pd.factorize(flat)  # hash-based, C-speed
                    folded_uniq = fold_series(pd.Series(uniq, dtype=object)).to_numpy(dtype=object)
                    folded_flat = folded_uniq[codes]
                    bounds = np.cumsum(lens)[:-1]
                    starts = np.concatenate(([0], bounds))
                    nz = lens > 0

                    def null_compressed(flat_vals, same_flat):
                        """Per-doc lists, NULL when the layer equals its base
                        layer for the whole doc (cuts stored bytes; readers
                        coalesce back). same_flat: per-token equality mask."""
                        doc_same = np.ones(len(lens), dtype=bool)
                        if nz.any():
                            # consecutive non-empty starts bound each doc's
                            # run (empty docs contribute zero tokens)
                            doc_same[nz] = (
                                np.add.reduceat(same_flat.astype(np.int64), starts[nz])
                                == lens[nz]
                            )
                        parts = np.split(flat_vals, bounds)
                        return pd.Series(
                            [None if s else a.tolist() for s, a in zip(doc_same, parts)],
                            index=toks.index, dtype=object,
                        )

                    folded = null_compressed(folded_flat, (folded_uniq == uniq)[codes])
                    if want_lemma:
                        if in_lemma:
                            lem_flat = np.concatenate(
                                [np.asarray(x if x is not None else [], dtype=object)
                                 for x in pdf["tokens_lemma"]]
                            )
                            if len(lem_flat) != len(folded_flat):
                                raise ValueError(
                                    "tokens_lemma length mismatch vs tokens"
                                )
                            lemmas = null_compressed(lem_flat, lem_flat == folded_flat)
                        else:
                            lem_u = lemma_array(folded_uniq)
                            lemmas = null_compressed(
                                lem_u[codes], (lem_u == folded_uniq)[codes]
                            )
                    if want_pos:
                        if in_pos:
                            pos_flat = np.concatenate(
                                [np.asarray(x if x is not None else [], dtype=object)
                                 for x in pdf["tokens_pos"]]
                            )
                            if len(pos_flat) != len(folded_flat):
                                raise ValueError("tokens_pos length mismatch vs tokens")
                        else:
                            pos_flat = pos_array(folded_uniq)[codes]
                        poss = pd.Series(
                            [a.tolist() for a in np.split(pos_flat, bounds)],
                            index=toks.index, dtype=object,
                        )
                else:
                    folded = toks.map(lambda _: [])
                    if want_lemma:
                        lemmas = folded
                    if want_pos:
                        poss = folded
                if annotated_input:
                    if in_sents:
                        sents_col = pdf["sents"].map(
                            lambda x: [list(s) for s in x] if x is not None else []
                        )
                    else:
                        sents_col = toks.map(lambda t: [[0, len(t)]] if t else [])
                else:
                    sents_col = sentence_spans_series(text)
                if "tags" in pdf.columns:
                    # stored tag spans pass through (compact path: the html
                    # they were scanned from is gone, positions still valid
                    # because the token streams are identical)
                    tags_col = pdf["tags"].map(
                        lambda x: list(x) if x is not None else []
                    )
                elif index_tags:
                    # tag spans only where extraction USED the html (text
                    # null): positions must agree with the indexed tokens
                    from_html = pdf["text"].isna()
                    tags_col = pd.Series(
                        [
                            tag_spans_one(
                                h.decode("utf-8", "replace")
                                if isinstance(h, (bytes, bytearray)) else (h or ""),
                                index_tags,
                            ) if use else []
                            for h, use in zip(pdf["html"], from_html)
                        ],
                        index=pdf.index, dtype=object,
                    )
                else:
                    tags_col = pd.Series([[]] * len(pdf), index=pdf.index, dtype=object)
                if "tok_offs" in pdf.columns:
                    # stored char offsets pass through (compact path: exact
                    # preservation beats recomputation, and the annotated
                    # branch below could not recompute them at all)
                    offs_col = pdf["tok_offs"]
                elif not store_offsets:
                    offs_col = pd.Series([None] * len(pdf), index=pdf.index, dtype=object)
                elif annotated_input:
                    # input text when absent is the space-join of tokens:
                    # offsets = running sum of len+1; with provided text the
                    # alignment is unknowable, so offsets stay NULL there
                    offs_col = pd.Series(
                        [
                            (np.concatenate(([0], np.cumsum([len(t) + 1 for t in tk])[:-1])).tolist()
                             if (txt is None and tk) else None)
                            for txt, tk in zip(pdf["text"], toks)
                        ],
                        index=pdf.index, dtype=object,
                    )
                else:
                    offs_col = token_offsets_series(text)
                if "relations" in pdf.columns:
                    rels_col = pdf["relations"]
                elif index_relations:
                    def derive_rels(ts):
                        return [
                            ("dep", pos_fold(fold_token(t)), i - 1, i, i, i + 1)
                            for i, t in enumerate(ts)
                            if i > 0
                        ]

                    from .tokenize import fold_token

                    rels_col = toks.map(derive_rels)
                else:
                    rels_col = pd.Series([[]] * len(pdf), index=pdf.index, dtype=object)
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "shard": pdf["shard"],
                        "url": pdf["url"],
                        "warc_ts": pdf["warc_ts"],
                        "lang": pdf["lang"],
                        "text": text if store_text else None,
                        "doc_len": toks.map(len).astype("int32"),
                        "tokens": toks,
                        "tokens_fold": folded,
                        "tokens_lemma": lemmas,
                        "tokens_pos": poss,
                        "sents": sents_col,
                        "tags": tags_col,
                        "tok_offs": offs_col,
                        "mv": mv_col,
                        "relations": rels_col,
                        # parallel versions: one top-level column per field
                        # (column-prunable, unlike a map — docs_schema())
                        **{
                            f"par_{f}": pdf[f"tokens_{f}"].map(
                                lambda x: list(x) if x is not None else []
                            )
                            for f in par_fields
                        },
                    }
                )

    return pages.mapInPandas(kernel, schema=docs_schema(par_fields))


# ---------------------------------------------------------- posting encoder --
def _encode_shard_kernel(
    block_size: int,
    annotations: tuple[str, ...] = DEFAULT_ANNOTATIONS,
    input_layers: frozenset[str] = frozenset(),
    *,
    codec: str,
):
    """Whole-shard Arrow kernel: doc rows (shard, doc_id, doc_len, tokens) ->
    posting block rows keyed by (annot, term string). Explode, term grouping
    (pyarrow dictionary_encode) and the (term, doc, pos) sort (np.lexsort)
    all run C-speed inside the worker — the JVM never materializes the token
    stream, which would cost row-to-Arrow conversion per token occurrence.

    Extra annotation layers (lemma/pos) are derived from the WORD dictionary
    inside the kernel (tokenize.lemma_fold/pos_fold over folded uniques, then
    a code remap) — the shuffle ships only the surface tokens regardless of
    layer count; a layer costs one more per-shard sort + encode.

    Term-group ORDER within a shard follows dictionary first-appearance and is
    not deterministic across shuffles; block CONTENT per (shard, annot, term)
    is — docs and positions are fully sorted before encoding. Every consumer
    keys by (annot, term), never by row order.

    Encoding: per output batch of at most EMIT_BLOCKS blocks, each blob
    column (doc-id deltas, tfs, dls, position deltas) is encoded by ONE
    codec.encode_blocks call — a fixed number of numpy passes whatever the
    block count — and becomes a BinaryArray over its (offsets, bytes); no
    per-block Python runs on either codec.

    Memory contract: one task holds one shard's exploded token codes +
    positions (~40 B/token/layer-in-flight). On top of that, encoding one
    batch holds the encoder's temporaries: 55 x 8 B per block (the
    bit-width histogram) and ~115 B per value of one column (tracemalloc
    peak), for at most EMIT_BLOCKS blocks and EMIT_VALUES positions (or
    block_size x EMIT_BLOCKS doc-level values) — about 250 MB at the
    default block size, whatever the shard size. n_shards is sized so a
    shard's token stream fits an executor comfortably (module docstring);
    the reference's segment writer holds comparable per-segment state when
    inverting term vectors (BlackLab40PostingsWriter.java:246-330).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from .tokenize import lemma_array, pos_array

    out_pa_schema = pa.schema(
        [
            ("shard", pa.int32()),
            ("annot", pa.string()),
            ("term", pa.string()),
            ("block_id", pa.int32()),
            ("doc_count", pa.int32()),
            ("first_doc", pa.int64()),
            ("last_doc", pa.int64()),
            ("max_tf", pa.int32()),
            ("min_dl", pa.int32()),
            ("tf_sum", pa.int64()),
            ("doc_ids", pa.binary()),
            ("tfs", pa.binary()),
            ("dls", pa.binary()),
            ("positions", pa.binary()),
        ]
    )

    def emit(out):
        cols = list(zip(*out))
        return pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, out_pa_schema)],
            schema=out_pa_schema,
        )

    def blobs(values, lens):
        # one tagged blob per block, all encoded in one numpy pass
        buf, off = encode_blocks(values, lens, codec)
        if off[-1] >= 1 << 31:
            raise ValueError("posting blobs of one batch exceed 2 GiB")
        return pa.BinaryArray.from_buffers(
            pa.binary(), len(lens),
            [None, pa.py_buffer(off.astype(np.int32)), pa.py_buffer(buf)],
        )

    def kernel(batches):
        vals, docs_l, dls_l, shs_l, counts_l = [], [], [], [], []
        in_vals = {a: [] for a in input_layers}
        mv_p_l, mv_v_l, mv_counts_l = [], [], []
        all_sh, all_dl, all_mv = [], [], []  # every row, for the shard summary
        for b in batches:
            if b.num_rows == 0:
                continue
            toks = b.column("tokens")
            counts = pc.fill_null(pc.list_value_length(toks), 0).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            mvc = b.column("mv") if "mv" in b.schema.names else None
            mv_counts = (
                pc.fill_null(pc.list_value_length(mvc), 0)
                .to_numpy(zero_copy_only=False).astype(np.int64)
                if mvc is not None
                else np.zeros(b.num_rows, dtype=np.int64)
            )
            shs = b.column("shard").to_numpy(zero_copy_only=False).astype(np.int64)
            dls = b.column("doc_len").to_numpy(zero_copy_only=False).astype(np.int64)
            all_sh.append(shs)
            all_dl.append(dls)
            all_mv.append(mv_counts)
            if counts.sum() == 0 and mv_counts.sum() == 0:
                continue
            vals.append(toks.flatten())
            if mvc is not None and mv_counts.sum():
                flat_mv = mvc.flatten()
                mv_p_l.append(
                    flat_mv.field("p").to_numpy(zero_copy_only=False).astype(np.int64)
                )
                mv_v_l.append(flat_mv.field("v"))
            else:
                mv_p_l.append(np.zeros(0, dtype=np.int64))
                mv_v_l.append(None)
            mv_counts_l.append(mv_counts)
            for a in input_layers:
                in_vals[a].append(b.column(f"_{a}_eff").flatten())
            docs_l.append(b.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64))
            dls_l.append(dls)
            shs_l.append(shs)
            counts_l.append(counts)
        if not all_sh:
            return
        # per-shard summary, emitted last as one block_id = SUMMARY_BLOCK
        # row per shard (block_summaries): the docs' stats and the blocks'
        # counts the build records in meta.json, with no job of their own
        rows_sh = np.concatenate(all_sh)
        summ_sh, summ_inv = np.unique(rows_sh, return_inverse=True)
        tally = {
            "n_docs": np.bincount(summ_inv, minlength=len(summ_sh)),
            "sum_dl": np.zeros(len(summ_sh), np.int64),
            "n_mv": np.zeros(len(summ_sh), np.int64),
            "n_blocks": np.zeros(len(summ_sh), np.int64),
            "n_postings": np.zeros(len(summ_sh), np.int64),
            "n_terms": np.zeros(len(summ_sh), np.int64),
        }
        np.add.at(tally["sum_dl"], summ_inv, np.concatenate(all_dl))
        np.add.at(tally["n_mv"], summ_inv, np.concatenate(all_mv))

        def summary():
            return emit([
                (int(sh), None, None, SUMMARY_BLOCK, 0, 0, 0, 0, 0, 0, b"", b"", b"",
                 json.dumps({k: int(v[i]) for k, v in tally.items()}).encode())
                for i, sh in enumerate(summ_sh)
            ])

        if not vals:
            yield summary()
            return
        doc_arr = np.concatenate(docs_l)      # per-doc
        dl_arr = np.concatenate(dls_l)
        sh_arr = np.concatenate(shs_l)
        counts = np.concatenate(counts_l)
        n_docs_local = len(doc_arr)
        flat_all = pa.concat_arrays(vals)
        total = len(flat_all)
        owner = np.repeat(np.arange(n_docs_local, dtype=np.int64), counts)
        ends = np.cumsum(counts)
        pos = np.arange(total, dtype=np.int64) - np.repeat(ends - counts, counts)
        # layer streams gather/expand as pyarrow arrays, lazily concatenated
        in_flat = {a: pa.concat_arrays(in_vals[a]) for a in input_layers}
        # ---- multi-value expansion (PayloadUtils.java:14-26): secondary
        # values post at their position in the SAME word layer. The extras
        # append to the stream with explicit positions, then ONE stable
        # pre-sort by position restores the per-(doc) position order the
        # delta encoder and the fast path's stability argument rely on.
        # Input layers gather the position's primary-layer value for each
        # extra, so their streams stay aligned with the word stream.
        n_extra = int(sum(len(x) for x in mv_p_l))
        if n_extra:
            mv_counts = np.concatenate(mv_counts_l)
            mv_owner = np.repeat(np.arange(n_docs_local, dtype=np.int64), mv_counts)
            mv_pos = np.concatenate(mv_p_l)
            mv_vals = pa.concat_arrays(
                [v.cast(flat_all.type) for v in mv_v_l if v is not None]
            )
            # drop extras whose owner doc has ZERO primary tokens: there is
            # no primary-layer value at any position to gather — the clamped
            # index would read the NEXT doc's first token (or run one past
            # the stream end for the last doc). Malformed input, not a
            # position.
            keep = counts[mv_owner] > 0
            if not keep.all():
                idx = np.flatnonzero(keep)
                mv_owner, mv_pos = mv_owner[idx], mv_pos[idx]
                mv_vals = mv_vals.take(idx)
                n_extra = len(idx)
        if n_extra:
            main_starts = ends - counts
            mv_main_idx = main_starts[mv_owner] + np.minimum(
                mv_pos, np.maximum(counts[mv_owner] - 1, 0)
            )
            flat_all = pa.concat_arrays([flat_all, mv_vals])
            owner = np.concatenate([owner, mv_owner])
            pos = np.concatenate([pos, mv_pos])
            for a in input_layers:
                in_flat[a] = pa.concat_arrays(
                    [in_flat[a], in_flat[a].take(mv_main_idx)]
                )
            pre = np.argsort(pos, kind="stable")
            # secondary entries sort after the primary at the same position
            # (arrival order: primaries first) — deterministic content
            flat_all = flat_all.take(pre)
            owner = owner[pre]
            pos = pos[pre]
            for a in input_layers:
                in_flat[a] = in_flat[a].take(pre)
            total = len(flat_all)
        # ---- position-increment gaps (reference AnnotationWriter.addValue
        # (value, increment), AnnotationWriter.java:238-267): an EMPTY-STRING
        # token in annotated input is the gap sentinel — it occupies a
        # forward-index position and counts in doc_len (so following tokens
        # keep their shifted positions, and adjacency across the hole fails
        # exactly like the reference's increment > 1), but posts NOTHING in
        # any layer. `[]`/doc-length n-grams still cover hole positions.
        gap_mask = pc.fill_null(pc.equal(flat_all, ""), False).to_numpy(
            zero_copy_only=False
        )
        if gap_mask.any():
            keep_idx = np.flatnonzero(~gap_mask)
            flat_all = flat_all.take(pa.array(keep_idx))
            owner = owner[keep_idx]
            pos = pos[keep_idx]
            for a in input_layers:
                in_flat[a] = in_flat[a].take(pa.array(keep_idx))
            total = len(flat_all)
        enc = pc.dictionary_encode(flat_all)
        word_codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        word_vocab = np.asarray(enc.dictionary.to_pylist(), dtype=object)
        sh_small, sh_inv = np.unique(sh_arr, return_inverse=True)
        n_sh = len(sh_small)
        # doc RANK, not batch-arrival index, as the sort key component: rows
        # arrive in shuffle order (doc ids rank by URL, so arrival order is
        # scrambled); sorting by rank makes every block's doc list ascending —
        # positive deltas (1-2 byte varints), valid first/last_doc block
        # stats (the WAND skip test relies on them), and block contents that
        # are deterministic regardless of shuffle arrival order.
        dorder = np.argsort(doc_arr, kind="stable")
        drank = np.empty(n_docs_local, dtype=np.int64)
        drank[dorder] = np.arange(n_docs_local)
        owner_rank = drank[owner]
        doc_sorted = doc_arr[dorder]
        dl_sorted = dl_arr[dorder]

        # derived layers share the word explosion: map the word dictionary
        # through the pinned derivation, re-factorize the derived uniques,
        # remap codes — per-unique cost, never per-token
        _fv = [None]

        def get_folded_vocab():
            if _fv[0] is None:
                _fv[0] = fold_series(
                    pd.Series(word_vocab, dtype=object)
                ).to_numpy(dtype=object)
            return _fv[0]

        def layer_codes(annot):
            if annot == "word":
                return word_codes, word_vocab
            if annot in input_layers:
                # input-supplied layer (annotated ingestion): factorize the
                # shipped values directly — NOT a function of the word dict
                flat = np.asarray(in_flat[annot].to_pylist(), dtype=object)
                uniq, inv = np.unique(flat, return_inverse=True)
                return inv.astype(np.int64), uniq.astype(object)
            fv = get_folded_vocab()
            derived = lemma_array(fv) if annot == "lemma" else pos_array(fv)
            uniq, inv = np.unique(derived, return_inverse=True)
            return inv.astype(np.int64)[word_codes], uniq.astype(object)

        def encode_layer(annot, codes, vocab):
            n_codes = len(vocab)
            # single combined sort key: (shard, term code, doc) -> one stable
            # argsort; position order within a doc survives via stability
            # (tokens were exploded in position order)
            change = np.empty(total, dtype=bool)
            change[0] = True
            if n_sh * n_codes * n_docs_local < (1 << 62):
                key = (sh_inv[owner] * n_codes + codes) * n_docs_local + owner_rank
                # int32 keys when the range allows: numpy's stable argsort on
                # ints is a radix sort, so halving key width halves the
                # dominant memory traffic of the kernel — 32 concurrent
                # kernel tasks are bandwidth-bound, not CPU-bound
                if n_sh * n_codes * n_docs_local < (1 << 31):
                    key = key.astype(np.int32)
                order = np.argsort(key, kind="stable")
                key_s = key[order].astype(np.int64)
                rank_s = key_s % n_docs_local
                grp_s = key_s // n_docs_local           # shard*n_codes + code
                # (grp, rank) pairs change exactly when the key changes
                np.not_equal(key_s[1:], key_s[:-1], out=change[1:])
            else:  # overflow fallback (astronomically large shards)
                order = np.lexsort((pos, owner_rank, codes, sh_inv[owner]))
                rank_s = owner_rank[order]
                grp_s = sh_inv[owner[order]] * n_codes + codes[order]
                np.logical_or(
                    grp_s[1:] != grp_s[:-1], rank_s[1:] != rank_s[:-1], out=change[1:]
                )
            pos_s = pos[order]
            starts = np.flatnonzero(change)
            tfs = np.diff(np.append(starts, total))
            g_grp = grp_s[starts]
            g_rank = rank_s[starts]
            g_doc = doc_sorted[g_rank]
            g_dl = dl_sorted[g_rank]
            # (shard, term) group boundaries over doc-level runs
            m = len(starts)
            gchange = np.empty(m, dtype=bool)
            gchange[0] = True
            np.not_equal(g_grp[1:], g_grp[:-1], out=gchange[1:])
            gstarts = np.flatnonzero(gchange)
            gends = np.append(gstarts[1:], m)
            # fold-df correction markers (word layer): a doc holding >1
            # surface variant of a fold (Café/café) is overcounted when
            # variant dfs are summed; emit the exact per-(shard, fold)
            # overcount as block_id = -1 rows so the terms stage never
            # re-scans the forward index. Docs live in exactly one shard, so
            # per-shard corrections add up exactly across shards/segments.
            if annot == "word":
                fv = get_folded_vocab()
                f_uniq, f_inv = np.unique(fv, return_inverse=True)
                vc = np.bincount(f_inv, minlength=len(f_uniq))
                markers: list[tuple] = []
                ggs = g_grp[gstarts]
                for f_id in np.flatnonzero(vc > 1):
                    member_codes = np.flatnonzero(f_inv == f_id)
                    for si in range(n_sh):
                        parts, runs = [], 0
                        for c in member_codes:
                            gk = si * n_codes + int(c)
                            gi = int(np.searchsorted(ggs, gk))
                            if gi < len(ggs) and ggs[gi] == gk:
                                a0, b0 = int(gstarts[gi]), int(gends[gi])
                                parts.append(g_doc[a0:b0])
                                runs += b0 - a0
                        if len(parts) >= 2:
                            overcount = runs - len(np.unique(np.concatenate(parts)))
                            if overcount > 0:
                                markers.append(
                                    (int(sh_small[si]), "word", str(f_uniq[f_id]),
                                     FOLD_MARKER, int(overcount), 0, 0, 0, 0, 0,
                                     b"", b"", b"", b"")
                                )
                if markers:
                    yield emit(markers)
            # block boundaries (doc-run level): every gstart + every
            # block_size docs within a group
            gstart_rep = np.repeat(gstarts, gends - gstarts)
            rel = np.arange(m, dtype=np.int64) - gstart_rep
            bstart_mask = (rel % block_size) == 0
            bstarts = np.flatnonzero(bstart_mask)
            bends = np.append(bstarts[1:], m)
            # doc ids: delta within block (absolute at block start)
            d_delta = delta_encode_segmented(g_doc, None, seg_starts=bstarts)
            # positions: delta restarts at each doc; blocks align with doc
            # boundaries, so block i's positions are one token range
            p_delta = delta_encode_segmented(pos_s, tfs)
            # per-block stats (reduceat over doc-run arrays)
            doc_count = bends - bstarts
            first_doc = g_doc[bstarts]
            last_doc = g_doc[bends - 1]
            max_tf = np.maximum.reduceat(tfs, bstarts)
            min_dl = np.minimum.reduceat(g_dl, bstarts)
            tf_sum = np.add.reduceat(tfs, bstarts)
            blk_grp = g_grp[bstarts]
            blk_shard = sh_small[blk_grp // n_codes]
            blk_code = blk_grp % n_codes
            block_id = rel[bstarts] // block_size
            blk_at = np.searchsorted(summ_sh, blk_shard)
            np.add.at(tally["n_blocks"], blk_at, 1)
            np.add.at(tally["n_postings"], blk_at, doc_count)
            np.add.at(
                tally["n_terms"], np.searchsorted(summ_sh, sh_small[g_grp[gstarts] // n_codes]), 1
            )
            terms = pa.array(vocab, type=pa.string())
            annot_s = pa.scalar(annot, pa.string())
            btok = np.concatenate(([0], np.cumsum(tf_sum)))  # block token starts
            bstarts_m = np.append(bstarts, m)
            nb = len(bstarts)
            c0 = 0
            while c0 < nb:
                # at most EMIT_BLOCKS blocks and (unless one block alone is
                # larger) EMIT_VALUES positions per batch
                c1 = int(np.searchsorted(btok, btok[c0] + EMIT_VALUES, "right")) - 1
                c1 = min(max(c1, c0 + 1), c0 + EMIT_BLOCKS, nb)
                a, z = int(bstarts_m[c0]), int(bstarts_m[c1])
                lens = doc_count[c0:c1]
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(blk_shard[c0:c1].astype(np.int32)),
                        pa.repeat(annot_s, c1 - c0),
                        terms.take(pa.array(blk_code[c0:c1])),
                        pa.array(block_id[c0:c1].astype(np.int32)),
                        pa.array(lens.astype(np.int32)),
                        pa.array(first_doc[c0:c1]),
                        pa.array(last_doc[c0:c1]),
                        pa.array(max_tf[c0:c1].astype(np.int32)),
                        pa.array(min_dl[c0:c1].astype(np.int32)),
                        pa.array(tf_sum[c0:c1]),
                        blobs(d_delta[a:z], lens),
                        blobs(tfs[a:z], lens),
                        blobs(g_dl[a:z], lens),
                        blobs(p_delta[btok[c0] : btok[c1]], tf_sum[c0:c1]),
                    ],
                    schema=out_pa_schema,
                )
                c0 = c1

        for annot in annotations:
            codes, vocab = layer_codes(annot)
            yield from encode_layer(annot, codes, vocab)
        yield summary()

    return kernel


def block_summaries(blocks_dir: str) -> tuple[dict, list[dict]]:
    """The encode kernels' SUMMARY_BLOCK rows of a blocks table, read on the
    driver with pyarrow: each kernel task emits them last, so row-group
    statistics skip every other row group. Returns the totals (n_docs,
    sum_dl, n_mv) of the main token stream, whose rows have a null annot
    (a parallel field's kernel counts its own stream under f_<field>), and
    per shard the docs, posting blocks, postings and distinct terms of
    every layer and field."""
    import pyarrow.dataset as pads

    rows = pads.dataset(blocks_dir, format="parquet").to_table(
        columns=["shard", "annot", "positions"],
        filter=pads.field("block_id") == SUMMARY_BLOCK,
    ).to_pylist()
    totals = dict.fromkeys(("n_docs", "sum_dl", "n_mv"), 0)
    shards: dict[int, dict] = {}
    for r in rows:
        s = json.loads(r["positions"])
        sh = shards.setdefault(
            r["shard"], dict.fromkeys(("n_docs", "n_blocks", "n_postings", "n_terms"), 0)
        )
        for k in ("n_blocks", "n_postings", "n_terms"):
            sh[k] += s[k]
        if r["annot"] is None:
            sh["n_docs"] += s["n_docs"]
            for k in totals:
                totals[k] += s[k]
    return totals, [{"shard": k, **v} for k, v in sorted(shards.items())]


# ------------------------------------------------------- dict finish kernel --
def _dict_kernel(stats: pd.DataFrame, corr: pd.DataFrame) -> pd.DataFrame:
    """Single-task dictionary finish (small-dict path): term_fold, dense
    term_id (rank over (annot, term)), fold stats with marker corrections,
    and both collator sort orders — the reference's per-segment
    single-threaded terms sort (TermsIntegrated.java:23-27) in one kernel."""
    from .tokenize import fold_series

    stats = stats.drop(columns=[c for c in ("_g",) if c in stats.columns])
    corr = corr.drop(columns=[c for c in ("_g",) if c in corr.columns])
    cols = [
        "annot", "term", "df", "cf", "term_fold", "fold_cf", "fold_df",
        "term_id", "sort_pos_s", "sort_pos_i",
    ]
    if len(stats) == 0:
        return pd.DataFrame(columns=cols)
    annot = stats["annot"].to_numpy(dtype=object)
    term = stats["term"].to_numpy(dtype=object)
    # EVERY layer folds: the reference indexes non-word annotations
    # insensitive-only (AnnotatedFieldNameUtil.java:92-97), so [pos="aux"]
    # matches input "AUX"; derived layers are already folded (identity)
    tf = fold_series(pd.Series(term, dtype=object)).to_numpy(dtype=object)
    df = stats["df"].to_numpy(np.int64)
    cf = stats["cf"].to_numpy(np.int64)
    order = np.lexsort((term, annot))
    term_id = np.empty(len(order), np.int64)
    term_id[order] = np.arange(len(order))
    # ":" separator is unambiguous: annot names are a fixed set without ":".
    # (NB: pandas elementwise str concat silently DROPS "\0" chars.)
    fold_key = pd.Series([a + ":" + t for a, t in zip(annot, tf)], dtype=object)
    g = pd.DataFrame({"k": fold_key, "df": df, "cf": cf}).groupby("k", sort=False)
    fold_cf = g["cf"].transform("sum").to_numpy(np.int64)
    df_sum = g["df"].transform("sum").to_numpy(np.int64)
    over = {
        a + ":" + t: int(o)
        for a, t, o in corr[["annot", "term_fold", "overcount"]].itertuples(index=False)
    }
    over_arr = fold_key.map(over).fillna(0).to_numpy(np.int64)
    fold_df = df_sum - over_arr
    order_i = np.lexsort((term, tf, annot))
    sort_pos_i = np.empty(len(order_i), np.int64)
    sort_pos_i[order_i] = np.arange(len(order_i))
    # rows leave in (annot, term_fold, term) order: the file's row-group
    # statistics then prune the driver-side term lookups (Segment.lookup)
    return pd.DataFrame(
        {
            "annot": annot, "term": term, "df": df, "cf": cf, "term_fold": tf,
            "fold_cf": fold_cf, "fold_df": fold_df, "term_id": term_id,
            "sort_pos_s": term_id, "sort_pos_i": sort_pos_i,
        }
    ).iloc[order_i]


# ------------------------------------------------------------------- build --
def build_index(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    block_size: int = DEFAULT_BLOCK,
    segment: str = "seg0",
    base_doc_id: int = 0,
    id_parts: int | None = None,
    resume: bool = False,
    store_text: bool = True,
    annotations: tuple[str, ...] = DEFAULT_ANNOTATIONS,
    index_tags: tuple[str, ...] = (),
    store_offsets: bool = False,
    index_relations: bool = False,
    dict_threshold: int = 20_000_000,
    codec: str = "pfor",
) -> dict:
    """Build one index segment from a pages DataFrame. Returns meta dict.

    codec: posting-blob codec — "pfor" (default; PForDelta: per-block
    bit-packed low bits + varint exception patches — 0.66x the posting
    bytes of varint at sf0.1) or "varint" (delta+LEB128). Both encode
    every block of a column in one numpy pass (codec.encode_blocks):
    `scripts/profile_build.py 4 400 2` (4-CPU host) measured the `blocks`
    stage of the 400-page pfor build at 0.30 s and of a 12-page delta at
    0.19 s, and the encode kernel alone, per 200-doc shard, at 15 ms with
    pfor and 18 ms with varint. Blobs self-describe via a tag byte, so
    mixed-codec segments merge and query without configuration.

    dict_threshold: docs above which the dictionary is built via the
    distributed two-rank flow instead of the one-task kernel (the path a
    100-TB build takes first). Overridable so tests force the large path at
    fixture scale and assert both paths produce identical dictionaries.

    Annotated input (`tokens` column): an empty-string token is the
    position-GAP sentinel (reference AnnotationWriter.addValue(value,
    increment), AnnotationWriter.java:238-267) — it occupies a forward-index
    position and counts in doc_len but posts nothing in any layer.

    resume=True: stages whose parquet committed under identical build params
    (docs / blocks / terms / postings) are reused, not recomputed — the
    north-rule "resumable from checkpoint" (each stage write is a snapshot;
    meta.json carries per-shard counts)."""
    t0 = time.time()
    stage_s: dict[str, float] = {}
    _last = [t0]

    def tick(name: str) -> None:
        now = time.time()
        stage_s[name] = round(now - _last[0], 2)
        _last[0] = now

    spark_ = spark
    seg_dir = os.path.join(out_dir, "segments", segment)

    # --- resume support: a stage whose parquet committed (_SUCCESS) under
    # identical build params is never recomputed. Mirrors the north rule's
    # "resumable from checkpoint": each stage write is the checkpoint, and
    # parquet commit protocol makes the _SUCCESS marker atomic-enough for a
    # restarted driver.
    annotations = tuple(annotations)
    assert annotations[0] == "word" and set(annotations) <= {"word", "lemma", "pos"}
    if codec not in ("varint", "pfor"):
        raise ValueError(f"codec must be 'varint' or 'pfor', got {codec!r}")
    # annotated input carrying its own relations column counts as indexed
    has_relations = bool(index_relations) or ("relations" in pages.columns)
    # layers whose values come from the INPUT (reference ingestion model)
    # rather than the pinned derived tagger
    annotated_in = "tokens" in pages.columns
    input_layers = frozenset(
        a for a in annotations
        if a != "word" and f"tokens_{a}" in pages.columns
    )
    params = {
        "n_shards": n_shards,
        "block_size": block_size,
        "store_text": store_text,
        "base_doc_id": base_doc_id,
        "annotations": list(annotations),
        "annotated_input": annotated_in,
        "input_layers": sorted(input_layers),
        "index_tags": list(index_tags),
        "store_offsets": store_offsets,
        "index_relations": has_relations,
        "parallel_fields": parallel_field_names(pages.columns),
        "tokenizer_version": TOKENIZER_VERSION,
        "format_version": FORMAT_VERSION,
        "codec": codec,
    }
    params_path = f"{seg_dir}/build_params.json"
    if resume and os.path.exists(params_path):
        with open(params_path) as f:
            if json.load(f) != params:
                resume = False  # params changed: full rebuild
    elif resume:
        resume = False
    if not resume:
        import shutil as _sh

        _sh.rmtree(seg_dir, ignore_errors=True)
        os.makedirs(seg_dir, exist_ok=True)
        write_json(params_path, params)

    def _done(name: str) -> bool:
        return resume and os.path.exists(f"{seg_dir}/{name}/_SUCCESS")

    if _done("docs"):
        docs = read_parquet(spark_, f"{seg_dir}/docs")
        n_docs = parquet_rows(f"{seg_dir}/docs")
        per_shard = max(1, -(-n_docs // n_shards))
        stage_s["docs_resumed"] = True
    else:
        # dense doc ids = rank over url, computed on the url column ALONE —
        # the heavy page payload (html/text) never moves through the rank
        # shuffle; ids join back by url (broadcast small, sort-merge at 10^12)
        ids, n_docs, cache0 = assign_dense_ids(
            pages.select("url"), ["url"], "doc_id",
            id_parts or max(4, min(n_shards, 64)), base=base_doc_id,
        )
        tick("doc_ids")
        per_shard = max(1, -(-n_docs // n_shards))  # ceil
        ids = ids.withColumn(
            "shard",
            F.least(
                ((F.col("doc_id") - F.lit(base_doc_id)) / F.lit(per_shard)).cast("int"),
                F.lit(n_shards - 1),
            ),
        )
        # broadcast the (url, doc_id, shard) map only while it credibly fits
        # executor memory (urls are ~60-100B; 5M rows ~ 500MB broadcast is
        # already generous) — beyond that let Catalyst pick the sort-merge
        # join (the heavy page payload shuffles once either way)
        if n_docs <= 5_000_000:
            ids = F.broadcast(ids)
        page_cols = ["url", "warc_ts", "html", "text", "lang"] + [
            c for c in ("tokens", "tokens_lemma", "tokens_pos", "sents",
                        "relations", "tags", "tok_offs", "mv")
            if c in pages.columns
        ] + [f"tokens_{f}" for f in params["parallel_fields"]]
        pages0 = pages.select(*page_cols).join(ids, "url")
        docs0 = tokenized_docs(
            pages0, store_text=store_text, annotations=annotations,
            index_tags=index_tags, store_offsets=store_offsets,
            index_relations=index_relations,
        )
        docs0.write.mode("overwrite").parquet(f"{seg_dir}/docs")
        cache0.unpersist()
        # read-back = lineage cut: later stages see one stable snapshot
        docs = read_parquet(spark_, f"{seg_dir}/docs")
    tick("docs")

    # ---- blocks: THE one big shuffle — but of COMPACT doc rows, not exploded
    # tokens. A JVM explode of the token stream (10^2 x the row count) pays
    # row-to-Arrow conversion + sort on every token occurrence; instead the
    # doc rows (token arrays ride as Arrow lists) repartition by shard and the
    # Arrow kernel explodes/sorts/encodes in numpy. term_ids don't exist yet —
    # the dict is DERIVED from the compact blocks table (df = sum(doc_count),
    # cf = sum(tf_sum); exact because a doc hits exactly one block per
    # (shard, term) and shard doc-ranges are disjoint). This replaces the
    # reference's two-pass termvec inversion (BlackLab40PostingsWriter.java:
    # 246-330) AND its per-segment term-stat accumulation with one shuffle.
    # repartitionByRange, NOT hash repartition: hashing 32 shard values into
    # 32 partitions collides (some tasks get 3 shards, some 0 — measured 3x
    # task skew); range boundaries put ~1 shard per partition
    postings_done = _done("postings") and _done("terms")
    prev = None
    if postings_done and not _done("blocks") and os.path.exists(f"{seg_dir}/meta.json"):
        # a completed build (blocks go after postings): its stats stand
        with open(f"{seg_dir}/meta.json") as f:
            prev = json.load(f)
    if _done("blocks"):
        blocksr = read_parquet(spark_, f"{seg_dir}/blocks")
    elif prev is not None:
        blocksr = None
    else:
        row_cols = [F.col("shard"), F.col("doc_id"), F.col("doc_len"), F.col("tokens")]
        if "lemma" in input_layers:
            # effective (de-null-compressed) input lemma rides the shuffle —
            # only for input-annotated builds; derived layers ship nothing
            row_cols.append(
                F.coalesce("tokens_lemma", F.coalesce("tokens_fold", "tokens")).alias("_lemma_eff")
            )
        if "pos" in input_layers:
            row_cols.append(F.col("tokens_pos").alias("_pos_eff"))
        if annotated_in and "mv" in docs.columns:
            # secondary position values (multi-value input) ride to the
            # kernel; empty arrays on docs without them cost ~1 byte/doc
            row_cols.append(F.col("mv"))
        rows = docs.select(*row_cols).repartitionByRange(n_shards, "shard")
        blocks = rows.mapInArrow(
            _encode_shard_kernel(block_size, annotations, input_layers, codec=codec),
            schema=BLOCKS_SCHEMA,
        )
        # parallel-field postings (reference: each parallel version is a
        # full annotated field with its own index, SpansOverrideField.java:
        # 5-10): per field, the same shard-kernel encodes that field's token
        # stream under annot `f_<field>` — term dict, fold stats, remap and
        # the term-clustered postings layout all apply unchanged, so
        # `@field=nl "term"` queries are posting-backed like the main field.
        # One prunable column scan + one shard shuffle per field; positions
        # and doc lengths are the PARALLEL stream's own.
        for fld in params["parallel_fields"]:
            prows = docs.select(
                "shard", "doc_id",
                F.coalesce(
                    F.col(f"par_{fld}"), F.array().cast("array<string>")
                ).alias("tokens"),
            ).withColumn("doc_len", F.size("tokens"))
            pblocks = prows.repartitionByRange(n_shards, "shard").mapInArrow(
                _encode_shard_kernel(block_size, ("word",), frozenset(), codec=codec),
                schema=BLOCKS_SCHEMA,
            ).withColumn("annot", F.lit(f"f_{fld}"))
            blocks = blocks.unionByName(pblocks)
        # lineage cut + resume checkpoint: blocks feed 3 consumers (dict,
        # remap, the shard summaries) — recomputing the shuffle per
        # consumer would triple the cost
        blocks.write.mode("overwrite").parquet(f"{seg_dir}/blocks")
        blocksr = read_parquet(spark_, f"{seg_dir}/blocks")
    tick("blocks")
    # sum_dl and whether any position carries secondary (multi-value)
    # values — queries must know (meta.multi_value) because mv breaks the
    # one-token-per-position premise behind the no-dedupe fast paths
    # (term/or/regex hits can then repeat a (doc,start,end)) — come from
    # the kernels' shard summaries, read on the driver: no Spark job
    if prev is not None:
        sum_dl, has_mv, shards = prev["sum_dl"], prev["multi_value"], prev.get("shards")
    else:
        totals, shards = block_summaries(f"{seg_dir}/blocks")
        if totals["n_docs"] != n_docs:
            raise RuntimeError(
                f"blocks of {seg_dir} summarize {totals['n_docs']} of {n_docs} docs "
                "(a checkpoint written before shard summaries?); rebuild with resume=False"
            )
        sum_dl, has_mv = totals["sum_dl"], totals["n_mv"] > 0
    tick("stats")

    TERMS_SCHEMA = (
        "annot string, term string, df long, cf long, term_fold string, "
        "fold_cf long, fold_df long, term_id long, sort_pos_s long, sort_pos_i long"
    )
    if _done("terms"):
        terms = read_parquet(spark_, f"{seg_dir}/terms")
        n_terms = parquet_rows(f"{seg_dir}/terms")
        tick("terms")
    else:
        # ---- terms dictionary from block stats ----
        # real posting rows only; FOLD_MARKER rows are fold-df correction
        # markers emitted by the kernel (term = fold string, doc_count =
        # overcount of docs holding >1 surface variant of the fold)
        stats = blocksr.filter(F.col("block_id") >= 0).groupBy("annot", "term").agg(
            F.sum("doc_count").alias("df"), F.sum("tf_sum").alias("cf")
        )
        corr = (
            blocksr.filter(F.col("block_id") == FOLD_MARKER)
            .groupBy("annot", F.col("term").alias("term_fold"))
            .agg(F.sum("doc_count").alias("overcount"))
        )
        if n_docs <= dict_threshold:
            # SMALL-DICT PATH (the common case; vocab grows ~ sqrt(tokens)):
            # finish the whole dictionary in ONE single-task job — exactly the
            # reference's per-segment single-threaded terms sort
            # (TermsIntegrated.java:23-27) — instead of two distributed rank
            # passes (repartition + persist + count-collect each). Measured:
            # cuts ~7s of flat driver/job overhead per build.
            terms_fin = (
                stats.groupby(F.lit(1).alias("_g"))
                .cogroup(corr.groupby(F.lit(1).alias("_g")))
                .applyInPandas(_dict_kernel, TERMS_SCHEMA)
            )
            terms_fin.write.mode("overwrite").parquet(f"{seg_dir}/terms")
            terms = read_parquet(spark_, f"{seg_dir}/terms")
            n_terms = parquet_rows(f"{seg_dir}/terms")
            tick("terms")
        else:
            # LARGE-DICT PATH: distributed ranks (any dict size)
            def refold(batches):
                for pdf in batches:
                    yield pdf.assign(term_fold=fold_series(pdf["term"]))

            surf = stats.mapInPandas(
                refold, schema="annot string, term string, df long, cf long, term_fold string"
            ).withColumn("_tk", F.concat_ws(chr(0), "annot", "term"))
            terms0, n_terms, cache1 = assign_dense_ids(
                surf, ["_tk"], "term_id", max(4, min(n_shards, 32))
            )
            terms0 = terms0.drop("_tk")
            tick("term_ids")
            w_fold = terms0.groupBy("annot", "term_fold").agg(
                F.sum("cf").alias("fold_cf"), F.sum("df").alias("df_sum")
            )
            folds = w_fold.join(corr, ["annot", "term_fold"], "left").select(
                "annot", "term_fold", "fold_cf",
                (F.col("df_sum") - F.coalesce("overcount", F.lit(0))).alias("fold_df"),
            )
            terms0 = terms0.join(folds, ["annot", "term_fold"], "left")
            terms0 = terms0.withColumn("sort_pos_s", F.col("term_id"))
            # insensitive sort position: rank over (annot, fold, term) — the
            # collator sort order (reference: integrated.md:148-153)
            fold_rank, _, cache2 = assign_dense_ids(
                terms0.select(
                    "term_id",
                    F.concat_ws(chr(0), "annot", "term_fold", "term").alias("_k"),
                ),
                ["_k"], "sort_pos_i", max(4, min(n_shards, 32)),
            )
            fold_rank = fold_rank.select("term_id", "sort_pos_i")
            tick("fold_rank")
            (
                terms0.join(fold_rank, "term_id")
                .coalesce(max(1, n_shards // 4))
                .sortWithinPartitions("sort_pos_i")  # term-sorted files, no shuffle
                .write.mode("overwrite").parquet(f"{seg_dir}/terms")
            )
            cache1.unpersist()
            cache2.unpersist()
            terms = read_parquet(spark_, f"{seg_dir}/terms")
            tick("terms")

    # ---- postings: remap term string -> term_id on the COMPACT blocks table
    if not _done("postings"):
        dict_df = terms.select("annot", "term", "term_id")
        if n_terms <= 2_000_000:
            dict_df = F.broadcast(dict_df)
        postings = blocksr.filter(F.col("block_id") >= 0).join(
            dict_df, ["annot", "term"]
        ).select(
            "shard", "annot", "term_id", "block_id", "doc_count", "first_doc", "last_doc",
            "max_tf", "min_dl", "tf_sum", "doc_ids", "tfs", "dls", "positions",
        )
        # term-clustered layout (the analog of Lucene's term-sorted postings
        # file): range-partition + sort by term_id so parquet file- and
        # row-group stats prune term lookups to ~1 file; kernel output order
        # is dictionary first-appearance, whose min/max stats prune nothing
        (
            postings.repartitionByRange(n_shards, "term_id")
            .sortWithinPartitions("term_id", "shard", "block_id")
            .write.mode("overwrite").parquet(f"{seg_dir}/postings")
        )
    import shutil

    shutil.rmtree(f"{seg_dir}/blocks", ignore_errors=True)
    tick("postings")

    # ---- manifest: the per-shard counts (meta "shards") came with the
    # shard summaries above, so this stage reads and writes nothing
    tick("manifest")

    meta = {
        "stage_s": stage_s,
        "format_version": FORMAT_VERSION,
        "codec": codec,
        "segment": segment,
        "annotations": list(annotations),
        "input_layers": sorted(input_layers),
        "index_tags": list(index_tags),
        "store_offsets": store_offsets,
        "index_relations": has_relations,
        "parallel_fields": params["parallel_fields"],
        "multi_value": has_mv,
        "n_docs": int(n_docs),
        "sum_dl": sum_dl,
        "n_terms": int(n_terms),
        "n_shards": n_shards,
        "per_shard": int(per_shard),
        "shards": shards,
        "base_doc_id": base_doc_id,
        "block_size": block_size,
        "tokenizer_version": TOKENIZER_VERSION,
        "k1": K1,
        "b": B,
        "build_wall_s": time.time() - t0,
    }
    write_json(f"{seg_dir}/meta.json", meta, indent=2)
    # segment registry at the index root
    _register_segment(out_dir, segment)
    return meta


def _register_segment(out_dir: str, segment: str) -> None:
    reg_path = os.path.join(out_dir, "segments.json")
    reg = {"segments": []}
    if os.path.exists(reg_path):
        with open(reg_path) as f:
            reg = json.load(f)
    if segment not in reg["segments"]:
        reg["segments"].append(segment)
    write_json(reg_path, reg, indent=2)


def add_segment(spark, pages: DataFrame, out_dir: str, segment: str, **kw) -> dict:
    """Incremental ingest: add a delta segment (mirrors Lucene's add-only
    segment model, reference engine/.../index/IndexerImpl.java:476-508).
    New docs get ids after all existing segments'."""
    base = 0
    reg_path = os.path.join(out_dir, "segments.json")
    if os.path.exists(reg_path):
        with open(reg_path) as f:
            for seg in json.load(f)["segments"]:
                with open(os.path.join(out_dir, "segments", seg, "meta.json")) as mf:
                    base += json.load(mf)["n_docs"]
    return build_index(spark, pages, out_dir, segment=segment, base_doc_id=base, **kw)


def merge_segments(
    spark: SparkSession,
    out_dir: str,
    segment: str = "merged",
    segments: list[str] | None = None,
    dict_threshold: int = 20_000_000,
) -> dict:
    """Posting-LEVEL segment merge (reference:
    BlackLab40PostingsWriter.merge, codec/BlackLab40PostingsWriter.java:
    102-140): unlike compact()'s forward-index rebuild, nothing
    re-tokenizes or re-encodes. Docs tables union with renumbered shards
    (delta segments already hold globally unique doc ids via add_segment's
    base_doc_id), the merged term dictionary re-ranks once from the
    segments' per-term stats (doc sets are disjoint, so df/cf/fold stats
    SUM exactly), and each segment's postings remap (annot, term) -> new
    term_id through a dict join — the delta+varint block bytes move
    verbatim. One dict-sized shuffle + one postings re-clustering write;
    the heavy token streams never move.

    Result is query-identical to the multi-segment index and to a one-shot
    rebuild: per-(shard, term) block sets union, and every consumer keys
    blocks by (annot, term_id), never by row order.

    `segments` restricts the merge to a SUBSET of the registry (tiered /
    leveled merge policies, streaming.py): only those segments fold into
    the new one; the rest stay untouched in the registry. Doc-id
    allocation stays safe under any subset: add_segment's next base is the
    SUM of registry n_docs, which a subset merge preserves exactly."""
    t0 = time.time()
    stage_s: dict[str, float] = {}
    _last = [t0]

    def tick(name: str) -> None:
        now = time.time()
        stage_s[name] = round(now - _last[0], 2)
        _last[0] = now

    reg_path = os.path.join(out_dir, "segments.json")
    with open(reg_path) as f:
        all_segs = json.load(f)["segments"]
    if segments is None:
        segs = list(all_segs)
    else:
        missing = [x for x in segments if x not in all_segs]
        if missing:
            raise ValueError(f"merge_segments: unknown segments {missing}")
        segs = [x for x in all_segs if x in set(segments)]
    if segment in all_segs:
        raise ValueError(f"merge_segments: target name {segment!r} already registered")
    metas, params = [], []
    for s in segs:
        with open(f"{out_dir}/segments/{s}/meta.json") as mf:
            metas.append(json.load(mf))
        with open(f"{out_dir}/segments/{s}/build_params.json") as pf:
            params.append(json.load(pf))
    if len(segs) < 2:
        raise ValueError("merge_segments: need >= 2 segments")
    if any(m["annotations"] != metas[0]["annotations"] for m in metas):
        raise ValueError(
            "merge_segments: all segments must share the annotations set "
            f"(have {[m['annotations'] for m in metas]}); use compact() to "
            "rebuild with a uniform configuration"
        )
    # Posting blocks move verbatim, so every source must carry the CURRENT
    # on-disk format and the same tokenizer: a pre-format-9 segment has no
    # parallel-field postings / term_di column the merged meta would claim,
    # and mixed tokenizer versions merge inconsistent term_fold stats.
    if any(m.get("format_version") != FORMAT_VERSION for m in metas):
        raise ValueError(
            "merge_segments: all segments must have format_version == "
            f"{FORMAT_VERSION} (have "
            f"{[m.get('format_version') for m in metas]}); use compact() to "
            "rebuild older segments at the current format"
        )
    if any(m.get("tokenizer_version") != metas[0].get("tokenizer_version") for m in metas):
        raise ValueError(
            "merge_segments: all segments must share tokenizer_version "
            f"(have {[m.get('tokenizer_version') for m in metas]}); use "
            "compact() to re-tokenize uniformly"
        )
    seg_dir = os.path.join(out_dir, "segments", segment)
    import shutil as _sh

    _sh.rmtree(seg_dir, ignore_errors=True)
    os.makedirs(seg_dir, exist_ok=True)

    # ---- docs: union with renumbered shards (contiguous doc ranges stay
    # one-to-one with shards, the kernel grouping key)
    shard_off = 0
    # per-shard counts carry over: blocks move verbatim under renumbered
    # shards, and each segment's term_id remap is one-to-one (None when a
    # source was built before meta.json recorded them)
    shards = [] if all(m.get("shards") is not None for m in metas) else None
    docs_u = None
    terms_u = None
    posts_u = None
    for i, (s, m) in enumerate(zip(segs, metas)):
        base = f"{out_dir}/segments/{s}"
        d = read_parquet(spark, f"{base}/docs").withColumn(
            "shard", (F.col("shard") + F.lit(shard_off)).cast("int")
        )
        t = read_parquet(spark, f"{base}/terms").withColumn("_seg", F.lit(i))
        p = read_parquet(spark, f"{base}/postings").withColumn(
            "shard", (F.col("shard") + F.lit(shard_off)).cast("int")
        ).withColumn("_seg", F.lit(i))
        docs_u = d if docs_u is None else docs_u.unionByName(
            d, allowMissingColumns=True
        )
        terms_u = t if terms_u is None else terms_u.unionByName(t)
        posts_u = p if posts_u is None else posts_u.unionByName(p)
        if shards is not None:
            shards += [{**sh, "shard": sh["shard"] + shard_off} for sh in m["shards"]]
        shard_off += int(m["n_shards"])
    docs_u.write.mode("overwrite").parquet(f"{seg_dir}/docs")
    tick("docs")

    # ---- merged dictionary: stats sum exactly (disjoint doc sets); ranks
    # (term_id, sort_pos_i) re-assign over the merged (annot, term) set
    stats = terms_u.groupBy("annot", "term").agg(
        F.first("term_fold").alias("term_fold"),
        F.sum("df").alias("df"), F.sum("cf").alias("cf"),
    )
    folds = (
        terms_u.select("_seg", "annot", "term_fold", "fold_df", "fold_cf")
        .dropDuplicates(["_seg", "annot", "term_fold"])
        .groupBy("annot", "term_fold")
        .agg(F.sum("fold_df").alias("fold_df"), F.sum("fold_cf").alias("fold_cf"))
    )
    merged = stats.join(folds, ["annot", "term_fold"])
    TERMS_SCHEMA = (
        "annot string, term string, df long, cf long, term_fold string, "
        "fold_cf long, fold_df long, term_id long, sort_pos_s long, sort_pos_i long"
    )
    n_docs_total = sum(int(m["n_docs"]) for m in metas)
    if n_docs_total <= dict_threshold:
        # small-dict path: one single-task rank kernel (same shape as the
        # build's _dict_kernel, stats pre-merged here)
        def rank_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.drop(columns=["_g"])
            annot = pdf["annot"].to_numpy(dtype=object)
            term = pdf["term"].to_numpy(dtype=object)
            tf = pdf["term_fold"].to_numpy(dtype=object)
            order = np.lexsort((term, annot))
            term_id = np.empty(len(order), np.int64)
            term_id[order] = np.arange(len(order))
            order_i = np.lexsort((term, tf, annot))
            sort_pos_i = np.empty(len(order_i), np.int64)
            sort_pos_i[order_i] = np.arange(len(order_i))
            return pdf.assign(
                term_id=term_id, sort_pos_s=term_id, sort_pos_i=sort_pos_i
            )[[
                "annot", "term", "df", "cf", "term_fold", "fold_cf",
                "fold_df", "term_id", "sort_pos_s", "sort_pos_i",
            ]].iloc[order_i]  # (annot, term_fold, term) row order, as the build

        (
            merged.withColumn("_g", F.lit(1)).groupBy("_g")
            .applyInPandas(rank_kernel, TERMS_SCHEMA)
            .write.mode("overwrite").parquet(f"{seg_dir}/terms")
        )
    else:
        merged = merged.withColumn("_tk", F.concat_ws(chr(0), "annot", "term"))
        t0d, _n, c1 = assign_dense_ids(merged, ["_tk"], "term_id", 32)
        t0d = t0d.drop("_tk")
        fr, _n2, c2 = assign_dense_ids(
            t0d.select(
                "term_id",
                F.concat_ws(chr(0), "annot", "term_fold", "term").alias("_k"),
            ),
            ["_k"], "sort_pos_i", 32,
        )
        (
            t0d.withColumn("sort_pos_s", F.col("term_id"))
            .join(fr.select("term_id", "sort_pos_i"), "term_id")
            .sortWithinPartitions("sort_pos_i")
            .write.mode("overwrite").parquet(f"{seg_dir}/terms")
        )
        c1.unpersist(), c2.unpersist()
    terms = read_parquet(spark, f"{seg_dir}/terms")
    n_terms = parquet_rows(f"{seg_dir}/terms")
    tick("terms")

    # ---- postings: remap (annot, old term_id) -> new term_id per segment
    # via the term STRING (two dict-scale joins; blocks bytes untouched)
    old_ids = terms_u.select("_seg", "annot", "term", F.col("term_id").alias("_old"))
    remap = old_ids.join(
        terms.select("annot", "term", F.col("term_id").alias("_new")),
        ["annot", "term"],
    ).select("_seg", "annot", F.col("_old").alias("term_id"), "_new")
    if n_terms <= 2_000_000:
        remap = F.broadcast(remap)
    (
        posts_u.join(remap, ["_seg", "annot", "term_id"])
        .select(
            "shard", "annot", F.col("_new").alias("term_id"), "block_id",
            "doc_count", "first_doc", "last_doc", "max_tf", "min_dl",
            "tf_sum", "doc_ids", "tfs", "dls", "positions",
        )
        .repartitionByRange(max(8, shard_off), "term_id")
        .sortWithinPartitions("term_id", "shard", "block_id")
        .write.mode("overwrite").parquet(f"{seg_dir}/postings")
    )
    tick("postings")
    tick("manifest")  # the per-shard counts carried over with the docs above

    p0 = params[0]
    merged_params = {
        **p0,
        "n_shards": shard_off,
        "base_doc_id": 0,
        "annotated_input": any(p.get("annotated_input") for p in params),
        "input_layers": sorted({l for p in params for l in p.get("input_layers", [])}),
        "index_tags": sorted({t for p in params for t in p.get("index_tags", [])}),
        "store_offsets": all(p.get("store_offsets") for p in params),
        "index_relations": any(p.get("index_relations") for p in params),
        "parallel_fields": sorted(
            {f for p in params for f in p.get("parallel_fields", [])}
        ),
        "store_text": all(p.get("store_text", True) for p in params),
        "codec": (
            p0.get("codec", "varint")
            if all(p.get("codec", "varint") == p0.get("codec", "varint") for p in params)
            else "mixed"
        ),
    }
    write_json(f"{seg_dir}/build_params.json", merged_params)
    meta = {
        "stage_s": stage_s,
        "format_version": FORMAT_VERSION,
        # blobs self-describe; merged codec is informational only
        "codec": (
            metas[0].get("codec", "varint")
            if all(m.get("codec", "varint") == metas[0].get("codec", "varint") for m in metas)
            else "mixed"
        ),
        "segment": segment,
        "annotations": metas[0]["annotations"],
        "input_layers": merged_params["input_layers"],
        "index_tags": merged_params["index_tags"],
        "store_offsets": merged_params["store_offsets"],
        "index_relations": merged_params["index_relations"],
        "parallel_fields": merged_params["parallel_fields"],
        "multi_value": any(m.get("multi_value") for m in metas),
        "n_docs": n_docs_total,
        "sum_dl": sum(int(m["sum_dl"]) for m in metas),
        "n_terms": int(n_terms),
        "n_shards": shard_off,
        "per_shard": max(int(m.get("per_shard", 1)) for m in metas),
        "shards": shards,
        "base_doc_id": 0,
        "block_size": metas[0]["block_size"],
        # propagate, don't stamp: validated equal across sources above
        "tokenizer_version": metas[0]["tokenizer_version"],
        "k1": K1,
        "b": B,
        "build_wall_s": time.time() - t0,
    }
    write_json(f"{seg_dir}/meta.json", meta, indent=2)
    merged_set = set(segs)
    new_reg = [x for x in all_segs if x not in merged_set] + [segment]
    write_json(reg_path, {"segments": new_reg}, indent=2)
    # Source segments are dead after the registry commit — remove them so
    # streaming compaction (which merges on a cadence) doesn't leak one full
    # index copy per merge. Registry write above is the commit point: a
    # crash before it leaves the old registry + old segments (still valid);
    # a crash during cleanup leaves orphan dirs no reader consults.
    for s in segs:
        if s != segment:
            _sh.rmtree(os.path.join(out_dir, "segments", s), ignore_errors=True)
    # live in-process readers still hold lazy DataFrames over the removed
    # paths — reload them (ADVICE r4). Cross-process readers must re-open
    # the index after compaction.
    from .query import invalidate_open_indexes

    invalidate_open_indexes(out_dir)
    return meta


def compact(
    spark: SparkSession,
    out_dir: str,
    n_shards: int = 8,
    block_size: int = DEFAULT_BLOCK,
    pages: DataFrame | None = None,
) -> dict:
    """Merge all segments into one (reference:
    BlackLab40PostingsWriter.merge, codec/BlackLab40PostingsWriter.java:102-140).

    v1 strategy: rebuild from the segments' forward indexes (docs tables hold
    the token arrays), which guarantees the merged index is byte-identical to
    a one-shot build over the union. A block-level merge that avoids
    re-tokenization is a later-round optimization; re-encode cost here is the
    shard shuffle only (extraction/tokenization is NOT redone).

    Segments built with store_text=False have docs.text = NULL, so the
    default rebuild path would silently produce an EMPTY merged index —
    pass the original `pages` DataFrame for those, or this raises.
    """
    reg_path = os.path.join(out_dir, "segments.json")
    with open(reg_path) as f:
        segs = json.load(f)["segments"]
    with open(f"{out_dir}/segments/{segs[0]}/build_params.json") as f:
        p0 = json.load(f)
    seg_annots = tuple(p0.get("annotations", ["word"]))
    seg_annotated = any(
        json.load(open(f"{out_dir}/segments/{s}/build_params.json")).get("annotated_input")
        for s in segs
    )
    if pages is None:
        for seg in segs:
            pp = f"{out_dir}/segments/{seg}/build_params.json"
            with open(pp) as f:
                if not json.load(f).get("store_text", True):
                    raise ValueError(
                        f"compact(): segment {seg!r} was built with "
                        "store_text=False (docs.text is NULL) — rebuilding "
                        "from docs would tokenize empty strings and produce "
                        "an empty index. Pass the original pages DataFrame: "
                        "compact(spark, out_dir, pages=pages)."
                    )
        docs = None
        for seg in segs:
            d = read_parquet(spark, f"{out_dir}/segments/{seg}/docs")
            docs = d if docs is None else docs.unionByName(d)
        # re-derive a pages-shaped frame (text already extracted; html
        # unused). Annotated-input segments pass their stored token streams
        # and layers through — re-tokenizing the joined text would drop
        # punctuation tokens and input annotations.
        cols = [
            F.col("url"), F.col("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            F.col("text"), F.col("lang"),
        ]
        added: set[str] = set()

        def add(name, col=None):
            if name not in added:
                added.add(name)
                cols.append(F.col(name) if col is None else col)

        if seg_annotated:
            add("tokens"), add("sents"), add("relations"), add("mv")
            # only layers the ORIGINAL input supplied pass through; derived
            # layers re-derive (identical by the pinned rules)
            if "lemma" in p0.get("input_layers", []):
                add(
                    "tokens_lemma",
                    F.coalesce(
                        "tokens_lemma", F.coalesce("tokens_fold", "tokens")
                    ).alias("tokens_lemma"),
                )
            if "pos" in p0.get("input_layers", []):
                add("tokens_pos")
        for fld in p0.get("parallel_fields", []):
            # parallel streams + their alignment relations pass through
            add(f"tokens_{fld}", F.col(f"par_{fld}").alias(f"tokens_{fld}"))
        if p0.get("parallel_fields") and not seg_annotated:
            # carry stored streams so alignments keep their token positions
            add("tokens"), add("sents"), add("relations")
        if p0.get("index_tags"):
            # stored markup spans pass through — the html they were scanned
            # from is not retained in docs
            add("tags")
        if p0.get("index_relations"):
            # stored relations pass through for EVERY relation-bearing
            # segment (input-supplied relations on a non-annotated build
            # would otherwise be replaced by derived stand-ins)
            add("relations")
        if p0.get("store_offsets"):
            # exact preservation — the annotated rebuild path could not
            # recompute offsets (text is non-null there)
            add("tok_offs")
        pages = docs.select(*cols)
    _codec = p0.get("codec", "varint")
    meta = build_index(
        spark, pages, out_dir, n_shards=n_shards, block_size=block_size,
        segment="compacted", annotations=seg_annots,
        index_tags=tuple(p0.get("index_tags", [])),
        store_offsets=bool(p0.get("store_offsets", False)),
        index_relations=bool(p0.get("index_relations", False)),
        codec=_codec if _codec != "mixed" else "pfor",
    )
    write_json(reg_path, {"segments": ["compacted"]}, indent=2)
    return meta
