"""Shared filter plumbing (``[R] py_stringsimjoin/filter/filter.py``
base class). Filter semantics: ``filter_pair`` returns True when the
pair is DROPPED (reference convention); ``filter_tables`` returns the
surviving candidate-pair DataFrame (no scores); ``filter_candset``
prunes an existing candset DataFrame.

:class:`SetSimFilter` is the base of the four set-similarity filters
(Size, Prefix, Position, Suffix): one constructor, one pair-mode
prologue and local token order, one empty x empty tail, and one
prefix-postings step whose frames feed the joins' own salted, pinned
blocked funnel (``joins/core.blocked_pairs``)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import track
from ..filter_math import (
    SET_SIM_MEASURES,
    prefix_length_py,
    size_lower_bound_py,
    size_upper_bound_py,
)
from ..joins import core
from ..joins.core import (
    build_token_ranks,
    missing_pairs,
    order_tokens,
    prepare_sides,
    project_output,
    tokenize_table,
)
from ..tokenizers import Tokenizer


class Filter:
    tokenizer: Tokenizer
    allow_missing: bool

    def filter_pair(self, l_string, r_string) -> bool:
        """True when the pair is dropped. A missing string survives iff
        ``allow_missing``; both strings are tokenized as sets."""
        if l_string is None or r_string is None:
            return not self.allow_missing
        tok = self._coerced_tokenizer()
        return self._drop_tokens(tok.tokenize(l_string), tok.tokenize(r_string))

    def _drop_tokens(self, lt: list[str], rt: list[str]) -> bool:
        raise NotImplementedError

    def _survivor_pairs(
        self, prep_l: DataFrame, prep_r: DataFrame, ranks: DataFrame
    ) -> DataFrame:
        """-> DataFrame(l_id, r_id) of surviving pairs."""
        raise NotImplementedError

    def _coerced_tokenizer(self) -> Tokenizer:
        return self.tokenizer.with_return_set(True)

    def filter_tables(
        self,
        l_df: DataFrame,
        r_df: DataFrame,
        l_key_attr: str,
        r_key_attr: str,
        l_filter_attr: str,
        r_filter_attr: str,
        l_out_attrs: list[str] | None = None,
        r_out_attrs: list[str] | None = None,
        l_out_prefix: str = "l_",
        r_out_prefix: str = "r_",
        *,
        self_join: bool = False,
    ) -> DataFrame:
        prep_l, prep_r, ranks = prepare_sides(
            l_df, r_df, l_key_attr, r_key_attr, l_filter_attr, r_filter_attr,
            self._coerced_tokenizer(),
        )
        pairs = self._survivor_pairs(prep_l, prep_r, ranks)
        if self_join:
            pairs = pairs.where(F.col("l_id") < F.col("r_id"))
        if self.allow_missing:
            pairs = pairs.unionByName(
                missing_pairs(
                    l_df, r_df, l_key_attr, r_key_attr, l_filter_attr, r_filter_attr,
                    self_join=self_join,
                ).drop("_sim_score")
            )
        return project_output(
            pairs, l_df, r_df, l_key_attr, r_key_attr, l_out_attrs, r_out_attrs,
            l_out_prefix, r_out_prefix, out_sim_score=False,
        )

    def filter_candset(
        self,
        candset: DataFrame,
        candset_l_key_attr: str,
        candset_r_key_attr: str,
        l_df: DataFrame,
        r_df: DataFrame,
        l_key_attr: str,
        r_key_attr: str,
        l_filter_attr: str,
        r_filter_attr: str,
    ) -> DataFrame:
        """Prune candset rows whose underlying string pair the filter
        drops (``[R] py_stringsimjoin/filter/filter.py::Filter.
        filter_candset``). Missing-attr pairs survive iff
        allow_missing.

        Scale shape: survivor pairs are computed only for ids that
        actually appear in the candset (left-semi pushdown) — at 100x
        the candset is typically a small slice of the tables and the
        pairwise work must not scale with the full tables. The global
        token-frequency ranks still come from the FULL tables, so
        per-pair prefix/position decisions are identical to the
        unrestricted computation (a record's prefix depends only on
        its own tokens + global ranks, never on other rows)."""
        tok = self._coerced_tokenizer()
        same = l_key_attr == r_key_attr and l_filter_attr == r_filter_attr and (
            l_df is r_df or l_df.sameSemantics(r_df)
        )
        tok_l_full = tokenize_table(l_df, l_key_attr, l_filter_attr, tok)
        tok_r_full = tok_l_full if same else tokenize_table(
            r_df, r_key_attr, r_filter_attr, tok
        )
        ranks = track(
            build_token_ranks([tok_l_full] if same else [tok_l_full, tok_r_full])
        )
        l_ids = candset.select(F.col(candset_l_key_attr).alias("__cid")).distinct()
        r_ids = candset.select(F.col(candset_r_key_attr).alias("__cid")).distinct()
        l_restr = l_df.join(l_ids, l_df[l_key_attr] == l_ids["__cid"], "left_semi")
        r_restr = r_df.join(r_ids, r_df[r_key_attr] == r_ids["__cid"], "left_semi")
        prep_l = order_tokens(
            tokenize_table(l_restr, l_key_attr, l_filter_attr, tok), ranks
        )
        prep_r = order_tokens(
            tokenize_table(r_restr, r_key_attr, r_filter_attr, tok), ranks
        )
        surv = self._survivor_pairs(prep_l, prep_r, ranks).withColumn("_keep", F.lit(1))
        out = candset.join(
            surv,
            (candset[candset_l_key_attr] == surv["l_id"])
            & (candset[candset_r_key_attr] == surv["r_id"]),
            "left",
        )
        if self.allow_missing:
            l_null = l_df.where(F.col(l_filter_attr).isNull()).select(
                F.col(l_key_attr).alias("__lnull")
            )
            r_null = r_df.where(F.col(r_filter_attr).isNull()).select(
                F.col(r_key_attr).alias("__rnull")
            )
            out = out.join(
                l_null, candset[candset_l_key_attr] == l_null["__lnull"], "left"
            ).join(r_null, candset[candset_r_key_attr] == r_null["__rnull"], "left")
            keep = (
                F.col("_keep").isNotNull()
                | F.col("__lnull").isNotNull()
                | F.col("__rnull").isNotNull()
            )
            return out.where(keep).select(*[candset[c] for c in candset.columns])
        return out.where(F.col("_keep").isNotNull()).select(
            *[candset[c] for c in candset.columns]
        )


class SetSimFilter(Filter):
    """Size/Prefix/Position/Suffix: a set-similarity bound at
    ``threshold`` under ``sim_measure_type``. Subclasses give the pair
    rule over rarest-first ordered token lists (``_drop_ordered``) and
    the survivors among non-empty records (``_nonempty_pairs``)."""

    def __init__(
        self,
        tokenizer: Tokenizer,
        sim_measure_type: str,
        threshold: float,
        allow_empty: bool = True,
        allow_missing: bool = False,
    ):
        assert sim_measure_type in SET_SIM_MEASURES, sim_measure_type
        self.tokenizer = tokenizer
        self.sim_measure_type = sim_measure_type
        self.threshold = threshold
        self.allow_empty = allow_empty
        self.allow_missing = allow_missing

    def _drop_tokens(self, lt, rt) -> bool:
        """Empty x empty survives iff ``allow_empty``. Otherwise pair
        mode orders both token lists by a local (count, token) order
        over just the two strings (the reference's ``filter_pair``
        does the same)."""
        if not lt and not rt:
            return not self.allow_empty
        cnt = Counter(lt) + Counter(rt)
        order = lambda t: (cnt[t], t)  # noqa: E731
        return self._drop_ordered(sorted(lt, key=order), sorted(rt, key=order))

    def _drop_ordered(self, lo: list[str], ro: list[str]) -> bool:
        raise NotImplementedError

    def _size_out(self, s1: int, s2: int) -> bool:
        """True when a set of size ``s2`` lies outside the size band of
        a set of size ``s1``."""
        m, t = self.sim_measure_type, self.threshold
        return not size_lower_bound_py(s1, m, t) <= s2 <= size_upper_bound_py(s1, m, t)

    def _prefix(self, ordered: list[str]) -> list[str]:
        return ordered[: prefix_length_py(len(ordered), self.sim_measure_type,
                                          self.threshold)]

    def _nonempty_pairs(
        self, prep_l: DataFrame, prep_r: DataFrame, ranks: DataFrame
    ) -> DataFrame:
        raise NotImplementedError

    def _survivor_pairs(self, prep_l, prep_r, ranks) -> DataFrame:
        pairs = self._nonempty_pairs(prep_l, prep_r, ranks)
        if self.allow_empty:
            el = prep_l.where(F.col("size") == 0).select(F.col("id").alias("l_id"))
            er = prep_r.where(F.col("size") == 0).select(F.col("id").alias("r_id"))
            pairs = pairs.unionByName(el.crossJoin(er))
        return pairs

    def _prefix_postings(self, prep_l, prep_r, ranks, id_col: str = "id"):
        """-> (ex_l, ex_r, salt_map): both sides' exploded prefixes
        and the hot-token salt map at ``core.AUTO_SALT_CAP`` (read at
        call time), ready for ``blocked_pairs``/``candidate_pairs``.
        ``id_col='id'`` keeps survivor ids in original-id space for
        filters that hand them straight to their output without a prep
        join (the joins' funnel uses iid surrogates)."""
        return (
            core.prefix_explode(prep_l, "l", self.sim_measure_type, self.threshold,
                                id_col=id_col),
            core.prefix_explode(prep_r, "r", self.sim_measure_type, self.threshold,
                                id_col=id_col),
            core.build_salt_map(ranks, core.AUTO_SALT_CAP),
        )
