"""Deterministic numpy bi-encoder scorer.

Stand-in for the reference's transformer bi-encoder (torch/transformers are
not installed in this environment). Same tensor contract as the reference:

  token embeddings ─► span reps (markerV0 shape: start-proj ⊕ end-proj,
  reference gliner/modeling/span_rep.py:262-286) ─► scores against label
  embeddings via a batched matmul (reference einsum "BLKD,BCD->BLKC" at
  gliner/modeling/base.py:547) ─► sigmoid (gliner/decoding/decoder.py:81).

Label embeddings are mean-pooled token vectors (reference
gliner/modeling/encoder.py:169-171), computed ONCE and broadcast — the
reference's bi-encoder label pre-encoding trick (gliner/model.py:604-630).

Determinism: token → embedding row via crc32 hashing into a seeded random
matrix; all projection matrices are seeded. The Spark mapInArrow stage and
the pure-Python oracle import THIS class, so scores are bit-identical and
any P/R loss isolates pipeline plumbing bugs, not model noise.

Everything is vectorized over Arrow-batch-shaped inputs: (B, Lmax) padded
token-id matrices. No per-row Python in the scoring path.
"""

from __future__ import annotations

import math
import zlib
from collections import OrderedDict

import numpy as np

from ..config import ScorerConfig
from .tokenizer import TOKEN_RE

_EPS = 1e-8


class HashedBiEncoder:
    def __init__(self, cfg: ScorerConfig | None = None):
        self.cfg = cfg or ScorerConfig()
        c = self.cfg
        rng = np.random.RandomState(c.seed)
        scale = 1.0 / math.sqrt(c.dim)
        self.emb = (rng.standard_normal((c.buckets, c.dim)) * scale).astype(np.float32)
        w_start = (rng.standard_normal((c.dim, c.dim)) * scale).astype(np.float32)
        w_end = (rng.standard_normal((c.dim, c.dim)) * scale).astype(np.float32)
        self.w_label = (rng.standard_normal((c.dim, c.dim)) * scale).astype(np.float32)
        # Pre-project the whole vocab once: downstream batch scoring is then
        # gathers + adds only, so padded batch shape cannot perturb values.
        self.start_table = self.emb @ w_start  # (buckets, dim)
        self.end_table = self.emb @ w_end      # (buckets, dim)
        self._label_cache: dict[str, np.ndarray] = {}
        self._labelset_cache: OrderedDict[tuple[str, ...], np.ndarray] = (
            OrderedDict()
        )
        self._labelset_bytes = 0
        self._tok_cache: dict[str, int] = {}
        # token-level scorer parameters (reference Scorer,
        # modeling/scorers.py:4-35: two-way token/label projections, a
        # concat(token0, label0, token0⊙label0-style interaction) MLP to 3
        # scores per (token, class): start/end/inside)
        wt0 = (rng.standard_normal((c.dim, c.dim)) * scale).astype(np.float32)
        wt1 = (rng.standard_normal((c.dim, c.dim)) * scale).astype(np.float32)
        # (the reference Scorer also projects the label through a second
        # head whose contribution is constant per (class, role); under the
        # vocab standardization in token_scores it cancels exactly, so it
        # is not materialized here)
        self.wl1 = (rng.standard_normal((c.dim, c.dim)) * scale).astype(np.float32)
        self.out_a = (rng.standard_normal((c.dim, 3)) * scale).astype(np.float32)
        self.out_c = (rng.standard_normal((c.dim, 3)) * scale).astype(np.float32)
        self.tok0_table = np.tanh(self.emb @ wt0)  # (buckets, dim)
        self.tok1_table = np.tanh(self.emb @ wt1)
        self.tok0_out = self.tok0_table @ self.out_a  # (buckets, 3)
        self._token_stats: dict[bytes, tuple[np.ndarray, np.ndarray]] = {}
        # lazily-built span-rep mode tables; each mode draws from its own
        # seed-offset rng stream so the draw order above (and thus
        # markerV0 values) never shifts when a mode is added
        self._marker_tabs: tuple[np.ndarray, np.ndarray] | None = None
        self._mv1_tabs: tuple[np.ndarray, ...] | None = None
        # per-width VOCAB tables (mlp/query/cat) are buckets×dim ≈ 16 MB
        # each × max_width widths; a worker cycling several table modes
        # (e.g. the span_mode_matrix driver query) would otherwise pin
        # ~200 MB per mode forever. Shared byte-bounded LRU: one full
        # mode stays hot, switching modes evicts the previous one's.
        self._width_tabs: OrderedDict[tuple[str, int], np.ndarray] = (
            OrderedDict()
        )
        self._width_tab_bytes = 0
        self._query_w: np.ndarray | None = None
        self._cat_base: np.ndarray | None = None
        self._cat_wq: np.ndarray | None = None
        self._conv_proj: dict[str, np.ndarray] = {}
        self._convconv_taps: dict[int, np.ndarray] = {}
        self._convshare_taps: dict[int, np.ndarray] = {}

    _WIDTH_TAB_MAX_BYTES = 320 << 20  # ≳ one full table mode at max_width

    def _width_tab_get(self, mode: str, k: int) -> np.ndarray | None:
        t = self._width_tabs.get((mode, k))
        if t is not None:
            self._width_tabs.move_to_end((mode, k))
        return t

    def _width_tab_put(self, mode: str, k: int, t: np.ndarray) -> None:
        self._width_tabs[(mode, k)] = t
        self._width_tab_bytes += t.nbytes
        while self._width_tab_bytes > self._WIDTH_TAB_MAX_BYTES:
            _, old = self._width_tabs.popitem(last=False)
            self._width_tab_bytes -= old.nbytes

    # ------------------------------------------------------------------ ids
    _TOK_CACHE_MAX = 1 << 20  # memo cap; beyond it, compute without insert

    def token_ids(self, tokens: list[str]) -> np.ndarray:
        b = self.cfg.buckets
        cache = self._tok_cache
        out = np.empty(len(tokens), dtype=np.int64)
        for i, t in enumerate(tokens):
            v = cache.get(t)
            if v is None:
                v = zlib.crc32(t.encode("utf-8")) % b
                if len(cache) < self._TOK_CACHE_MAX:
                    cache[t] = v
            out[i] = v
        return out

    def ids_matrix(self, token_lists: list[list[str]]) -> tuple[np.ndarray, np.ndarray]:
        """Pad a batch of token lists → (ids (B, Lmax) int64, lengths (B,))."""
        lengths = np.array([len(t) for t in token_lists], dtype=np.int64)
        lmax = int(lengths.max()) if len(lengths) else 0
        ids = np.zeros((len(token_lists), max(lmax, 1)), dtype=np.int64)
        for i, toks in enumerate(token_lists):
            if toks:
                ids[i, : len(toks)] = self.token_ids(toks)
        return ids, lengths

    # --------------------------------------------------------------- labels
    def encode_label(self, label: str) -> np.ndarray:
        cached = self._label_cache.get(label)
        if cached is not None:
            return cached
        toks = TOKEN_RE.findall(label)
        if not toks:
            vec = np.zeros(self.cfg.dim, dtype=np.float32)
        else:
            mean = self.emb[self.token_ids(toks)].mean(axis=0)
            vec = np.tanh(mean @ self.w_label)
            vec = vec / (np.linalg.norm(vec) + _EPS)
        vec.setflags(write=False)  # cached object is shared — freeze it
        self._label_cache[label] = vec
        return vec

    _LABELSET_CACHE_MAX_BYTES = 64 << 20  # per python worker process

    def encode_labels(self, labels: list[str]) -> np.ndarray:
        """(C, dim) float32, one normalized vector per label.

        Memoized at the label-SET level too: the RE pass encodes one
        composite-label list per row and the same (entity, relation)
        combinations recur constantly, so the per-row lookup+stack was a
        measurable slice of batch wall time. Values are byte-identical to
        the uncached path — each label vector still comes from the same
        per-label computation (no batch-shape-dependent BLAS path).

        The returned matrix is the CACHED object, frozen read-only
        (setflags) so a caller mutating it gets an immediate error
        instead of silently corrupting every later lookup. The cache is
        a byte-bounded LRU — varied RE composite-label sets must not pin
        unbounded memory in long-lived workers (ADVICE r02)."""
        if not labels:
            return np.zeros((0, self.cfg.dim), dtype=np.float32)
        key = tuple(labels)
        cached = self._labelset_cache.get(key)
        if cached is not None:
            self._labelset_cache.move_to_end(key)  # LRU touch
            return cached
        mat = np.stack([self.encode_label(lb) for lb in labels])
        mat.setflags(write=False)
        self._labelset_cache[key] = mat
        self._labelset_bytes += mat.nbytes
        while self._labelset_bytes > self._LABELSET_CACHE_MAX_BYTES:
            _, old = self._labelset_cache.popitem(last=False)
            self._labelset_bytes -= old.nbytes
        return mat

    # -------------------------------------------------------------- scoring
    def _span_vecs_from(
        self, start_table: np.ndarray, end_table: np.ndarray,
        ids: np.ndarray, max_width: int,
    ):
        """(s_vec (B,L,d), e_pad (B,L+K-1,d)): e_pad lets every width-k
        shift be a zero-copy VIEW e_pad[:, k:k+L]. Positions past the
        padded edge reuse the last column (such spans always fail the
        end<=len rule at decode, mirroring decoder.py:110-112, so the
        filler never reaches output)."""
        s_vec = start_table[ids]  # (B, L, d)
        e_vec = end_table[ids]
        if max_width > 1:
            pad = np.broadcast_to(
                e_vec[:, -1:, :], (e_vec.shape[0], max_width - 1, e_vec.shape[2])
            )
            e_pad = np.concatenate([e_vec, pad], axis=1)
        else:
            e_pad = e_vec
        return s_vec, e_pad

    def _span_vecs(self, ids: np.ndarray, max_width: int):
        return self._span_vecs_from(
            self.start_table, self.end_table, ids, max_width
        )

    # ----------------------------------------------- span-rep mode heads
    def _marker_tables(self):
        """Vocab-level fold of the reference SpanMarker head
        (span_rep.py:216-259): two endpoint MLPs (d→2d→relu→d), concat,
        relu, out-projection (2d→d). relu(cat(a, b)) @ W_out splits into
        relu(a) @ W_top + relu(b) @ W_bot, so the whole head collapses to
        two per-vocab tables — scoring stays gathers + adds, bit-stable
        across batch shapes like the markerV0 tables (dropout = identity
        at inference). Built lazily on first marker-mode use."""
        if self._marker_tabs is None:
            c = self.cfg
            scale = 1.0 / math.sqrt(c.dim)
            rng = np.random.RandomState(c.seed + 101)

            def endpoint_mlp() -> np.ndarray:
                w1 = (rng.standard_normal((c.dim, 2 * c.dim)) * scale).astype(
                    np.float32
                )
                w2 = (rng.standard_normal((2 * c.dim, c.dim)) * scale).astype(
                    np.float32
                )
                return np.maximum(self.emb @ w1, 0.0) @ w2

            sa, se = endpoint_mlp(), endpoint_mlp()
            w_top = (rng.standard_normal((c.dim, c.dim)) * scale).astype(
                np.float32
            )
            w_bot = (rng.standard_normal((c.dim, c.dim)) * scale).astype(
                np.float32
            )
            self._marker_tabs = (
                np.maximum(sa, 0.0) @ w_top,
                np.maximum(se, 0.0) @ w_bot,
            )
        return self._marker_tabs

    def _mlp_table(self, k: int) -> np.ndarray:
        """Vocab-level width-k slice of the reference SpanMLP head
        (span_rep.py:33-50: one Linear d→K·d, reshape (B,L,K,d), relu):
        the rep of span (s, s+k) is a function of token s ONLY. One
        (buckets, d) table per width, built lazily — vocab-level
        pre-projection keeps values independent of batch shape."""
        t = self._width_tab_get("mlp", k)
        if t is None:
            c = self.cfg
            scale = 1.0 / math.sqrt(c.dim)
            rng = np.random.RandomState(c.seed + 211 + k)
            wk = (rng.standard_normal((c.dim, c.dim)) * scale).astype(
                np.float32
            )
            t = np.maximum(self.emb @ wk, 0.0)
            self._width_tab_put("mlp", k, t)
        return t

    def _query_table(self, k: int) -> np.ndarray:
        """Vocab-level width-k table of the reference SpanQuery head
        (span_rep.py:7-30): rep(s, k) = relu((h_s ⊙ q_k) @ W) where q_k is
        the width-k query vector (nn.init.uniform_(a=-1, b=1)) and W the
        shared project Linear. Depends on token s only → vocab-foldable."""
        t = self._width_tab_get("query", k)
        if t is None:
            c = self.cfg
            if self._query_w is None:
                scale = 1.0 / math.sqrt(c.dim)
                rng = np.random.RandomState(c.seed + 331)
                self._query_w = (
                    rng.standard_normal((c.dim, c.dim)) * scale
                ).astype(np.float32)
            q_k = (
                np.random.RandomState(c.seed + 307 + k)
                .uniform(-1.0, 1.0, c.dim)
                .astype(np.float32)
            )
            t = np.maximum((self.emb * q_k) @ self._query_w, 0.0)
            # relu leaves a common positive component that a TRAINED
            # projection would calibrate away; under random weights it
            # compresses cosine spread below the decode threshold.
            # Center by the vocab mean — deterministic, batch-stable.
            t -= t.mean(axis=0)
            self._width_tab_put("query", k, t)
        return t

    def _cat_table(self, k: int) -> np.ndarray:
        """Vocab-level width-k table of the reference SpanCAT head
        (span_rep.py:53-81): rep = relu([h_s ‖ q_k] @ W). A linear over a
        concat splits into h_s @ W_h + q_k @ W_q, so each width is the
        shared token base table plus a per-width bias row, relu'd."""
        t = self._width_tab_get("cat", k)
        if t is None:
            c = self.cfg
            scale = 1.0 / math.sqrt(c.dim)
            if self._cat_base is None:
                rng = np.random.RandomState(c.seed + 353)
                w_h = (rng.standard_normal((c.dim, c.dim)) * scale).astype(
                    np.float32
                )
                # reference width embedding is 128-dim (span_rep.py:60)
                self._cat_wq = (
                    rng.standard_normal((128, c.dim)) * (1.0 / math.sqrt(128))
                ).astype(np.float32)
                self._cat_base = self.emb @ w_h
            q_k = (
                np.random.RandomState(c.seed + 359 + k)
                .standard_normal(128)
                .astype(np.float32)
            )
            t = np.maximum(self._cat_base + q_k @ self._cat_wq, 0.0)
            t -= t.mean(axis=0)  # same vocab-mean calibration as _query_table
            self._width_tab_put("cat", k, t)
        return t

    def _markerv1_tables(self):
        """Three endpoint/first projections of the reference SpanMarkerV1
        (span_rep.py:288-349), folded to vocab tables like markerV0.

        The reference docstring says the span rep is augmented with the
        FIRST-token embedding; the code body actually takes a mean over
        the PADDED batch axis (`torch.mean(h, dim=1)`, :330 — pad rows
        included, so values shift with batch composition, and the defined
        `project_first` layer is never applied). This kernel follows the
        documented intent — a first-token projection — which keeps the
        bit-stability-across-batch-shapes invariant every other mode has.
        rep = tanh(start_proj(tok_s) + end_proj(tok_{s+k}) + first_proj(tok_0)).
        """
        if self._mv1_tabs is None:
            c = self.cfg
            scale = 1.0 / math.sqrt(c.dim)
            rng = np.random.RandomState(c.seed + 173)
            tabs = []
            for _ in range(3):
                w = (rng.standard_normal((c.dim, c.dim)) * scale).astype(
                    np.float32
                )
                tabs.append(self.emb @ w)
            self._mv1_tabs = tuple(tabs)
        return self._mv1_tabs

    def _conv_proj_w(self, mode: str) -> np.ndarray:
        """Shared post-pool projection of SpanConv/ConvShare
        (span_rep.py:128-131, :178-181: project = Sequential(ReLU,
        Linear)) — one Linear per mode instance, applied to every width."""
        w = self._conv_proj.get(mode)
        if w is None:
            c = self.cfg
            scale = 1.0 / math.sqrt(c.dim)
            off = {
                "conv_mean": 421, "conv_sum": 431, "conv_max": 433,
                "conv_conv": 439, "conv_share": 443,
            }[mode]
            rng = np.random.RandomState(c.seed + off)
            w = (rng.standard_normal((c.dim, c.dim)) * scale).astype(
                np.float32
            )
            self._conv_proj[mode] = w
        return w

    def _conv_conv_taps(self, width_idx: int) -> np.ndarray:
        """Per-kernel Conv1d weights of SpanConvBlock('conv_conv')
        (span_rep.py:88-92): width_idx i ≥ 1 has its OWN kernel-(i+1)
        conv; tap j maps token s+j. Returns (i+1, d, d) float32."""
        t = self._convconv_taps.get(width_idx)
        if t is None:
            c = self.cfg
            scale = 1.0 / math.sqrt(c.dim)
            rng = np.random.RandomState(c.seed + 461 + width_idx)
            t = (
                rng.standard_normal((width_idx + 1, c.dim, c.dim)) * scale
            ).astype(np.float32)
            self._convconv_taps[width_idx] = t
        return t

    def _conv_share_tap(self, j: int) -> np.ndarray:
        """Tap j of the SHARED conv weight of ConvShare (span_rep.py:
        170-200): width i applies the prefix taps 0..i, so widths nest and
        the rep accumulates one shifted-gemm per extra width."""
        t = self._convshare_taps.get(j)
        if t is None:
            c = self.cfg
            scale = 1.0 / math.sqrt(c.dim)
            rng = np.random.RandomState(c.seed + 487 + j)
            t = (rng.standard_normal((c.dim, c.dim)) * scale).astype(
                np.float32
            )
            self._convshare_taps[j] = t
        return t

    def _pool_width_reps(self, ids: np.ndarray, max_width: int, mode: str):
        """conv_mean / conv_sum / conv_max (SpanConv, span_rep.py:119-145):
        width 0 is the raw token rep; width k ≥ 1 pools tokens s..s+k
        (kernel k+1, right-padded with zeros like the reference F.pad —
        positions past the padded edge only feed spans that fail the
        end<=len decode rule, so the filler never reaches output). The
        shared project (relu → Linear) is applied per width. One cumsum
        serves every sum/mean width; max is a running elementwise max."""
        B, L = ids.shape
        c = self.cfg
        x = self.emb[ids]  # (B, L, d)
        w_proj = self._conv_proj_w(mode)
        yield np.maximum(x, 0.0) @ w_proj  # width 0: span_reps[0] = x
        if max_width == 1:
            return
        xp = np.concatenate(
            [x, np.zeros((B, max_width - 1, c.dim), dtype=np.float32)], axis=1
        )
        if mode == "conv_max":
            run = xp[:, :L].copy()
            for k in range(1, max_width):
                np.maximum(run, xp[:, k : k + L], out=run)
                # a max over k zero-mean coordinates (then relu) is
                # positively biased along the all-ones direction; with
                # the reference's TRAINED projection that bias is
                # calibrated away, but a random projection maps it to one
                # fixed direction that compresses cosine spread below the
                # decode threshold. Remove each vector's uniform
                # component after the relu — deterministic per span,
                # batch-shape-stable (stand-in kernel calibration).
                r = np.maximum(run, 0.0)
                r -= r.mean(axis=-1, keepdims=True)
                yield r @ w_proj
            return
        cs = np.cumsum(xp, axis=1, dtype=np.float64)
        cs = np.concatenate(
            [np.zeros((B, 1, c.dim), dtype=np.float64), cs], axis=1
        )
        for k in range(1, max_width):
            ws = (cs[:, k + 1 : k + 1 + L] - cs[:, :L]).astype(np.float32)
            if mode == "conv_mean":
                # AvgPool1d over the fixed kernel — pad zeros count in
                # the denominator, exactly like the reference block
                ws /= np.float32(k + 1)
            r = np.maximum(ws, 0.0)
            if mode == "conv_sum":
                # same relu-bias calibration as conv_max (the mean-pooled
                # variant's bias shrinks with k and fires without it)
                r -= r.mean(axis=-1, keepdims=True)
            yield r @ w_proj

    def _width_reps(self, ids: np.ndarray, max_width: int):
        """Yield the UNNORMALIZED (B, L, d) span rep per width k — the one
        place that realizes the span_mode registry entries (all 11
        reference modes, span_rep.py:381-421). Yielded buffers may be
        reused between iterations; consumers must finish with a buffer
        before advancing."""
        mode = self.cfg.span_mode
        if mode == "mlp":
            for k in range(max_width):
                yield self._mlp_table(k)[ids]
            return
        if mode == "query":
            for k in range(max_width):
                yield self._query_table(k)[ids]
            return
        if mode == "cat":
            for k in range(max_width):
                yield self._cat_table(k)[ids]
            return
        if mode in ("conv_mean", "conv_sum", "conv_max"):
            yield from self._pool_width_reps(ids, max_width, mode)
            return
        if mode == "conv_conv":
            B, L = ids.shape
            c = self.cfg
            x = self.emb[ids]
            w_proj = self._conv_proj_w(mode)
            yield np.maximum(x, 0.0) @ w_proj  # width 0: raw rep
            if max_width == 1:
                return
            xp = np.concatenate(
                [x, np.zeros((B, max_width - 1, c.dim), dtype=np.float32)],
                axis=1,
            )
            for k in range(1, max_width):
                taps = self._conv_conv_taps(k)
                acc = xp[:, 0:L] @ taps[0]
                for j in range(1, k + 1):
                    acc += xp[:, j : j + L] @ taps[j]
                yield np.maximum(acc, 0.0) @ w_proj
            return
        if mode == "conv_share":
            B, L = ids.shape
            c = self.cfg
            x = self.emb[ids]
            w_proj = self._conv_proj_w(mode)
            xp = np.concatenate(
                [x, np.zeros((B, max_width - 1, c.dim), dtype=np.float32)],
                axis=1,
            )
            acc = xp[:, 0:L] @ self._conv_share_tap(0)
            for k in range(max_width):
                if k:
                    acc += xp[:, k : k + L] @ self._conv_share_tap(k)
                # relu-bias calibration, as in _pool_width_reps
                r = np.maximum(acc, 0.0)
                r -= r.mean(axis=-1, keepdims=True)
                yield r @ w_proj
            return
        if mode == "markerV1":
            ta, tb, tf = self._markerv1_tables()
            s_vec, e_pad = self._span_vecs_from(ta, tb, ids, max_width)
            f_vec = tf[ids[:, 0]][:, None, :]  # (B, 1, d) first-token term
            B, L, d = s_vec.shape
            tmp = np.empty((B, L, d), dtype=np.float32)
            for k in range(max_width):
                np.add(s_vec, e_pad[:, k : k + L], out=tmp)
                tmp += f_vec
                np.tanh(tmp, out=tmp)
                yield tmp
            return
        if mode == "marker":
            ta, tb = self._marker_tables()
            s_vec, e_pad = self._span_vecs_from(ta, tb, ids, max_width)
            B, L, d = s_vec.shape
            tmp = np.empty((B, L, d), dtype=np.float32)
            for k in range(max_width):
                np.add(s_vec, e_pad[:, k : k + L], out=tmp)
                yield tmp
            return
        # markerV0: rep = tanh(start_proj(tok s) + end_proj(tok s+k))
        s_vec, e_pad = self._span_vecs(ids, max_width)
        B, L, d = s_vec.shape
        tmp = np.empty((B, L, d), dtype=np.float32)
        for k in range(max_width):
            np.add(s_vec, e_pad[:, k : k + L], out=tmp)
            np.tanh(tmp, out=tmp)
            yield tmp

    def span_reps(self, ids: np.ndarray, max_width: int) -> np.ndarray:
        """Normalized span reps (B, L, K, dim) for spans (s, s+k) under
        the configured span_mode. Kept for introspection/tests; the
        scoring fast path below never materializes this 4-D tensor."""
        B, L = ids.shape
        rep = np.empty((B, L, max_width, self.cfg.dim), dtype=np.float32)
        for k, tmp in enumerate(self._width_reps(ids, max_width)):
            rep[:, :, k, :] = tmp
        rep /= np.linalg.norm(rep, axis=-1, keepdims=True) + _EPS
        return rep

    def score_batch(
        self, ids: np.ndarray, label_mat: np.ndarray, max_width: int
    ) -> np.ndarray:
        """Shared-label scoring: probs (B, L, K, C).

        One matmul per width — the broadcast-join pattern (SURVEY §2.3 J1):
        label_mat is the broadcast side, span reps the streamed side. The
        per-width loop works on (B, L, d) slices (views of e_pad), keeping
        the live working set at O(B·L·d) instead of O(B·L·K·d).
        """
        c = self.cfg
        B, L = ids.shape
        d = c.dim
        labT = np.ascontiguousarray(label_mat.T, dtype=np.float32)
        C = labT.shape[1]
        scale = np.float32(c.alpha * math.sqrt(c.dim))
        out = np.empty((B, L, max_width, C), dtype=np.float32)
        for k, tmp in enumerate(self._width_reps(ids, max_width)):
            nrm = np.sqrt(np.einsum("bld,bld->bl", tmp, tmp)) + _EPS
            lg = np.ascontiguousarray(tmp).reshape(B * L, d) @ labT
            lg = lg.reshape(B, L, C)
            lg *= (scale / nrm)[:, :, None]
            lg += np.float32(c.beta)
            out[:, :, k, :] = lg
        return _sigmoid(out)

    def score_batch_ragged(
        self,
        ids: np.ndarray,
        label_mats: list[np.ndarray],
        max_width: int,
    ) -> np.ndarray:
        """Per-row label sets (RE pass, processor.py:255-266 semantics).

        Pads labels to Cmax and runs one einsum per width — the
        reference's padding trick (gliner/modeling/base.py:537-543) with
        the same per-width view structure as score_batch. Padded label
        slots score sigmoid(beta) ≈ 0 (zero vectors), and decode
        additionally bounds c by the per-row label count.
        """
        c = self.cfg
        B = ids.shape[0]
        cmax = max((m.shape[0] for m in label_mats), default=0)
        if cmax == 0:
            return np.zeros((B, ids.shape[1], max_width, 0), dtype=np.float32)
        lab = np.zeros((B, cmax, c.dim), dtype=np.float32)
        for i, m in enumerate(label_mats):
            if m.shape[0]:
                lab[i, : m.shape[0], :] = m
        B, L = ids.shape
        scale = np.float32(c.alpha * math.sqrt(c.dim))
        labT = np.ascontiguousarray(lab.transpose(0, 2, 1))  # (B, d, C)
        out = np.empty((B, L, max_width, cmax), dtype=np.float32)
        for k, tmp in enumerate(self._width_reps(ids, max_width)):
            nrm = np.sqrt(np.einsum("bld,bld->bl", tmp, tmp)) + _EPS
            lg = np.matmul(tmp, labT)  # batched gemm (B,L,d)@(B,d,C)
            lg *= (scale / nrm)[:, :, None]
            lg += np.float32(c.beta)
            out[:, :, k, :] = lg
        return _sigmoid(out)


    # ------------------------------------------------------- token scoring
    def token_scores(
        self, ids: np.ndarray, label_mat: np.ndarray
    ) -> np.ndarray:
        """Token-level probs (B, L, C, 3): sigmoid scores per (token,
        class) for the three position roles (start, end, inside) — the
        reference's Scorer output contract (modeling/scorers.py:18-35),
        deterministic-numpy edition:

          logit[b,l,c,:] = t0[b,l]·A + l0[c]·B + (t1[b,l] ⊙ l1[c])·C

        with the same alpha/beta calibration as the span scorer.
        """
        c = self.cfg
        t1 = self.tok1_table[ids]
        l1 = np.tanh(label_mat @ self.wl1)  # (C, d)
        B, L, d = t1.shape
        C = label_mat.shape[0]
        base_tok = self.tok0_out[ids].reshape(B * L, 3)  # (B·L, 3)
        out = np.empty((B, L, C, 3), dtype=np.float32)
        t1_flat = t1.reshape(B * L, d)
        alpha_t = np.float32(c.token_alpha)
        beta_t = np.float32(c.token_beta)
        for ci in range(C):
            m = l1[ci][:, None] * self.out_c  # (d, 3)
            # per-(class, role) calibration against the FULL vocabulary
            # distribution — random projections otherwise leave a constant
            # per-role bias that the logit scale amplifies into dead or
            # saturated channels. Deterministic, input-independent, cached.
            key = l1[ci].tobytes()
            stats = self._token_stats.get(key)
            if stats is None:
                vocab = self.tok0_out + self.tok1_table @ m  # (buckets, 3)
                stats = (
                    vocab.mean(axis=0),
                    vocab.std(axis=0) + np.float32(_EPS),
                )
                self._token_stats[key] = stats
            mu, sd = stats
            inter = t1_flat @ m  # (B·L, 3)
            z = (base_tok + inter - mu) / sd
            out[:, :, ci, :] = (alpha_t * z + beta_t).reshape(B, L, 3)
        return _sigmoid(out)


_SCORER_CACHE: dict[ScorerConfig, "HashedBiEncoder"] = {}


def get_scorer(cfg: ScorerConfig | None = None) -> "HashedBiEncoder":
    """Per-process memoized scorer — executors build the hashed embedding
    tables once per python worker, not once per task."""
    cfg = cfg or ScorerConfig()
    inst = _SCORER_CACHE.get(cfg)
    if inst is None:
        inst = HashedBiEncoder(cfg)
        _SCORER_CACHE[cfg] = inst
    return inst


def _sigmoid(x: np.ndarray) -> np.ndarray:
    out = np.empty_like(x, dtype=np.float32)
    np.negative(x, out=out)
    np.exp(out, out=out)
    out += 1.0
    np.reciprocal(out, out=out)
    return out
