/* Native batch kernels for fuzzspark: blocked bit-parallel LCS,
 * Levenshtein (Myers), and OSA (Hyyrö) over batches of code-point
 * sequences.  Public algorithms (Myers 1999; Hyyrö 2002/2003);
 * implementation written for this project — behavior-parity target is
 * rapidfuzz-rs (see fuzzspark/kernels/_bitpar.py for the pure-Python
 * reference implementations these are tested against).
 *
 * Batch layout: flattened code points + int64 offsets
 * (offsets[i]..offsets[i+1] is sequence i), one call scores n pairs.
 * Drivers with an elem_size argument (batch_metric_bounded_es,
 * batch_affix, batch_minhash) take 1-byte elements when the whole
 * buffer is ASCII and uint32 otherwise; the rest take uint32 only.
 * Compiled on demand by _native.py:  gcc -O3 -shared -fPIC.
 */

#include <stdint.h>
#include <stdlib.h>
#include <string.h>

#define EMPTY_KEY 0xFFFFFFFFu

/* Pattern-match-vector with two storage modes, both arena-backed (no
 * per-pattern malloc/free):
 *  - direct: all pattern code points < 256 (the overwhelmingly common
 *    case) -> masks indexed straight by code, presence bitmap skips
 *    absent chars without a hash probe.
 *  - hashed: open addressing with linear probing for wide alphabets. */
typedef struct {
    int       direct;
    int64_t   words;
    uint64_t *dmask;     /* direct: 256 x words */
    uint64_t  present[4];
    uint32_t *keys;      /* hashed: open addressing, linear probe */
    int32_t  *rowidx;    /* slot -> row in hmask */
    uint64_t *hmask;     /* hashed: nrows x words */
    uint32_t  cap;       /* power of two */
    int32_t   nrows;
} PM;

typedef struct {            /* reused across every pair in a batch */
    uint64_t *dmask;        /* 256 * max_words */
    uint64_t *hmask;        /* max_m * max_words */
    uint32_t *keys;         /* cap_max */
    int32_t  *rowidx;       /* cap_max */
    uint32_t  cap_max;      /* power of two >= 2 * max_m */
} PMArena;

/* element accessor: the elem_size drivers accept 1-byte (ASCII fast
 * path — no python-side widening copy, 4x less input traffic) or
 * 4-byte code-point input; the es==1 test is perfectly predicted. */
static inline uint32_t elem_at(const void *b, int64_t i, int es) {
    return es == 1 ? (uint32_t)((const uint8_t *)b)[i]
                   : ((const uint32_t *)b)[i];
}

static inline uint32_t hash32(uint32_t x) {
    x ^= x >> 16; x *= 0x7feb352du;
    x ^= x >> 15; x *= 0x846ca68bu;
    x ^= x >> 16; return x;
}

static int arena_init(PMArena *ar, int64_t max_m, int64_t max_words) {
    uint32_t cap = 16;
    while (cap < (uint32_t)(2 * max_m)) cap <<= 1;
    ar->cap_max = cap;
    ar->dmask = (uint64_t *)malloc(256u * (size_t)max_words
                                   * sizeof(uint64_t));
    ar->hmask = (uint64_t *)malloc((size_t)(max_m > 0 ? max_m : 1)
                                   * (size_t)max_words * sizeof(uint64_t));
    ar->keys = (uint32_t *)malloc((size_t)cap * sizeof(uint32_t));
    ar->rowidx = (int32_t *)malloc((size_t)cap * sizeof(int32_t));
    return (ar->dmask && ar->hmask && ar->keys && ar->rowidx) ? 0 : -1;
}

static void arena_free(PMArena *ar) {
    free(ar->dmask); free(ar->hmask); free(ar->keys); free(ar->rowidx);
}

static void pm_build(PM *pm, PMArena *ar, const void *pat, int es,
                     int64_t m, int64_t words) {
    int direct = 1;
    if (es != 1)
        for (int64_t i = 0; i < m; i++)
            if (elem_at(pat, i, es) >= 256u) { direct = 0; break; }
    pm->direct = direct; pm->words = words;
    if (direct) {
        pm->dmask = ar->dmask;
        memset(ar->dmask, 0, 256u * (size_t)words * sizeof(uint64_t));
        memset(pm->present, 0, sizeof(pm->present));
        for (int64_t i = 0; i < m; i++) {
            uint32_t c = elem_at(pat, i, es);
            pm->dmask[(size_t)c * words + (i >> 6)] |= 1ull << (i & 63);
            pm->present[c >> 6] |= 1ull << (c & 63);
        }
        return;
    }
    uint32_t cap = 16;
    while (cap < (uint32_t)(2 * m)) cap <<= 1;
    pm->cap = cap; pm->nrows = 0;
    pm->keys = ar->keys; pm->rowidx = ar->rowidx; pm->hmask = ar->hmask;
    memset(pm->keys, 0xFF, (size_t)cap * sizeof(uint32_t));
    for (int64_t i = 0; i < m; i++) {
        uint32_t c = elem_at(pat, i, es);
        uint32_t slot = hash32(c) & (cap - 1);
        while (pm->keys[slot] != EMPTY_KEY && pm->keys[slot] != c)
            slot = (slot + 1) & (cap - 1);
        int32_t row;
        if (pm->keys[slot] == EMPTY_KEY) {
            pm->keys[slot] = c;
            row = pm->nrows++;
            pm->rowidx[slot] = row;
            memset(pm->hmask + (size_t)row * words, 0,
                   (size_t)words * sizeof(uint64_t));
        } else {
            row = pm->rowidx[slot];
        }
        pm->hmask[(size_t)row * words + (i >> 6)] |= 1ull << (i & 63);
    }
}

static inline const uint64_t *pm_get(const PM *pm, uint32_t c) {
    if (pm->direct) {
        if (c >= 256u || !(pm->present[c >> 6] & (1ull << (c & 63))))
            return NULL;
        return pm->dmask + (size_t)c * pm->words;
    }
    uint32_t slot = hash32(c) & (pm->cap - 1);
    while (1) {
        uint32_t k = pm->keys[slot];
        if (k == c) return pm->hmask + (size_t)pm->rowidx[slot] * pm->words;
        if (k == EMPTY_KEY) return NULL;
        slot = (slot + 1) & (pm->cap - 1);
    }
}

/* ---------------- LCS (Hyyrö bit-parallel, blocked) ---------------- */

/* min_lcs < 0: no bound.  min_lcs >= 0: early-abandon when even
 * matching every remaining text char cannot reach min_lcs; returns -1
 * (caller treats as "provably below the cutoff").  This is the
 * cutoff-driven kernel narrowing of the reference (its banded kernels,
 * src/distance/lcs_seq.rs:267-341) in abandonment form. */
static int64_t lcs_one(int64_t m,
                       const void *txt, int es, int64_t n,
                       uint64_t *S /* scratch words */, const PM *pm,
                       int64_t min_lcs) {
    int64_t words = (m + 63) >> 6;
    for (int64_t k = 0; k < words; k++) S[k] = ~0ull;
    uint64_t top = (m & 63) ? ((1ull << (m & 63)) - 1ull) : ~0ull;
    S[words - 1] = top;
    for (int64_t j = 0; j < n; j++) {
        const uint64_t *M = pm_get(pm, elem_at(txt, j, es));
        if (M) {
            uint64_t carry = 0;
            for (int64_t k = 0; k < words; k++) {
                uint64_t Sk = S[k];
                uint64_t u = Sk & M[k];
                uint64_t t = Sk + u;
                uint64_t c1 = t < Sk;
                uint64_t t2 = t + carry;
                uint64_t c2 = t2 < t;
                S[k] = t2 | (Sk - u);
                carry = c1 | c2;
            }
            S[words - 1] &= top;
        }
        if (min_lcs >= 0 && (j & 63) == 63) {
            int64_t ones = 0;
            for (int64_t k = 0; k < words; k++)
                ones += __builtin_popcountll(S[k]);
            int64_t matched = m - ones;      /* zeros of S = matches */
            int64_t room = m - matched;
            int64_t rem = n - j - 1;
            int64_t max_final = matched + (rem < room ? rem : room);
            if (max_final < min_lcs) return -1;
        }
    }
    int64_t zeros = 0;
    for (int64_t k = 0; k < words; k++)
        zeros += 64 - __builtin_popcountll(S[k]);
    zeros -= (64 * words - m);     /* bits beyond m in the (masked) top word */
    return zeros;
}

/* ------------- Levenshtein (Myers 1999, blocked words) -------------- */

/* max_dist < 0: no bound.  Final dist >= dist_now - remaining (each
 * text char moves the last-row value by at most 1), so abandon once
 * that lower bound exceeds max_dist; returns -1. */
static int64_t lev_one(int64_t m,
                       const void *txt, int es, int64_t n,
                       uint64_t *VP, uint64_t *VN, const PM *pm,
                       int64_t max_dist) {
    int64_t words = (m + 63) >> 6;
    for (int64_t k = 0; k < words; k++) { VP[k] = ~0ull; VN[k] = 0; }
    uint64_t top = (m & 63) ? ((1ull << (m & 63)) - 1ull) : ~0ull;
    VP[words - 1] = top;
    uint64_t msb = 1ull << ((m - 1) & 63);
    int64_t dist = m;
    for (int64_t j = 0; j < n; j++) {
        const uint64_t *M = pm_get(pm, elem_at(txt, j, es));
        uint64_t carry_d0 = 0;     /* carry of (X & VP) + VP */
        uint64_t hp_carry = 1;     /* HP << 1 | 1 at word 0 */
        uint64_t hn_carry = 0;
        for (int64_t k = 0; k < words; k++) {
            uint64_t PMk = M ? M[k] : 0;
            uint64_t X = PMk | VN[k];
            uint64_t a = X & VP[k];
            uint64_t t = a + VP[k];
            uint64_t c1 = t < a;
            uint64_t t2 = t + carry_d0;
            uint64_t c2 = t2 < t;
            carry_d0 = c1 | c2;
            uint64_t D0 = (t2 ^ VP[k]) | X;
            uint64_t HP = VN[k] | ~(D0 | VP[k]);
            uint64_t HN = D0 & VP[k];
            if (k == words - 1) {
                if (HP & msb) dist++;
                else if (HN & msb) dist--;
            }
            uint64_t HPs = (HP << 1) | hp_carry;
            uint64_t HNs = (HN << 1) | hn_carry;
            hp_carry = HP >> 63;
            hn_carry = HN >> 63;
            VP[k] = HNs | ~(D0 | HPs);
            VN[k] = HPs & D0;
        }
        VP[words - 1] &= top;
        VN[words - 1] &= top;
        if (max_dist >= 0 && dist - (n - j - 1) > max_dist) return -1;
    }
    return dist;
}

/* -------- OSA (Hyyrö 2003 Damerau variant, blocked words) ----------- */

static int64_t osa_one(int64_t m,
                       const void *txt, int es, int64_t n,
                       uint64_t *VP, uint64_t *VN, uint64_t *D0v,
                       uint64_t *PMprev, const PM *pm, int64_t max_dist) {
    int64_t words = (m + 63) >> 6;
    for (int64_t k = 0; k < words; k++) {
        VP[k] = ~0ull; VN[k] = 0; D0v[k] = 0; PMprev[k] = 0;
    }
    uint64_t top = (m & 63) ? ((1ull << (m & 63)) - 1ull) : ~0ull;
    VP[words - 1] = top;
    uint64_t msb = 1ull << ((m - 1) & 63);
    int64_t dist = m;
    for (int64_t j = 0; j < n; j++) {
        const uint64_t *M = pm_get(pm, elem_at(txt, j, es));
        uint64_t carry_d0 = 0, hp_carry = 1, hn_carry = 0, tr_carry = 0;
        for (int64_t k = 0; k < words; k++) {
            uint64_t PMk = M ? M[k] : 0;
            uint64_t nd = (~D0v[k]) & PMk;
            uint64_t TR = ((nd << 1) | tr_carry) & PMprev[k];
            tr_carry = nd >> 63;
            uint64_t a = PMk & VP[k];
            uint64_t t = a + VP[k];
            uint64_t c1 = t < a;
            uint64_t t2 = t + carry_d0;
            uint64_t c2 = t2 < t;
            carry_d0 = c1 | c2;
            uint64_t D0 = ((t2 ^ VP[k]) | PMk | VN[k]) | TR;
            uint64_t HP = VN[k] | ~(D0 | VP[k]);
            uint64_t HN = D0 & VP[k];
            if (k == words - 1) {
                if (HP & msb) dist++;
                else if (HN & msb) dist--;
            }
            uint64_t HPs = (HP << 1) | hp_carry;
            uint64_t HNs = (HN << 1) | hn_carry;
            hp_carry = HP >> 63;
            hn_carry = HN >> 63;
            VP[k] = HNs | ~(D0 | HPs);
            VN[k] = HPs & D0;
            D0v[k] = D0;
            PMprev[k] = PMk;
        }
        VP[words - 1] &= top;
        VN[words - 1] &= top;
        D0v[words - 1] &= top;
        if (max_dist >= 0 && dist - (n - j - 1) > max_dist) return -1;
    }
    return dist;
}

/* ------------------------- batch drivers ---------------------------- */

static int64_t max_words(const int64_t *off, int64_t n_pairs) {
    int64_t mw = 1;
    for (int64_t i = 0; i < n_pairs; i++) {
        int64_t m = off[i + 1] - off[i];
        int64_t w = (m + 63) >> 6;
        if (w > mw) mw = w;
    }
    return mw;
}

/* kind: 0 = lcs similarity, 1 = levenshtein distance, 2 = osa distance.
 * Common-affix stripping happens HERE (memory-speed scans), so callers
 * pass raw pairs: LCS gets the affix added back, the distances are
 * invariant under stripping (src/details/common.rs:79-108 analog).
 *
 * bounds (may be NULL): per-pair cutoff-derived early-abandon bound —
 * for LCS the MINIMUM similarity that can still pass, for distances
 * the MAXIMUM passing distance; -1 = none.  Abandoned pairs come back
 * as -1 ("provably suppressed") and never as a wrong score. */
int batch_metric_bounded_es(int kind,
                            const void *pat, const int64_t *pat_off,
                            const void *txt, const int64_t *txt_off,
                            int64_t n_pairs, int64_t *out,
                            const int64_t *bounds, int64_t elem_size) {
    const int es = (int)elem_size;
    int64_t mw = max_words(pat_off, n_pairs);
    int64_t max_m = 1;
    for (int64_t i = 0; i < n_pairs; i++) {
        int64_t m = pat_off[i + 1] - pat_off[i];
        if (m > max_m) max_m = m;
    }
    uint64_t *s1 = (uint64_t *)malloc((size_t)mw * sizeof(uint64_t));
    uint64_t *s2 = (uint64_t *)malloc((size_t)mw * sizeof(uint64_t));
    uint64_t *s3 = (uint64_t *)malloc((size_t)mw * sizeof(uint64_t));
    uint64_t *s4 = (uint64_t *)malloc((size_t)mw * sizeof(uint64_t));
    PMArena ar;
    int rc = arena_init(&ar, max_m, mw);
    if (!s1 || !s2 || !s3 || !s4 || rc != 0) {
        free(s1); free(s2); free(s3); free(s4); arena_free(&ar);
        return -1;
    }
    PM pm;
    const char *last_pat = NULL;
    int64_t last_m = -1;
    int have_pm = 0;
    for (int64_t i = 0; i < n_pairs; i++) {
        const char *p = (const char *)pat + pat_off[i] * es;
        int64_t m = pat_off[i + 1] - pat_off[i];
        const char *t = (const char *)txt + txt_off[i] * es;
        int64_t n = txt_off[i + 1] - txt_off[i];
        /* strip common prefix + suffix */
        int64_t lim = m < n ? m : n;
        int64_t pre = 0;
        while (pre < lim && elem_at(p, pre, es) == elem_at(t, pre, es)) pre++;
        int64_t suf = 0;
        while (suf < lim - pre
               && elem_at(p, m - 1 - suf, es) == elem_at(t, n - 1 - suf, es))
            suf++;
        const char *ps = p + pre * es;
        const char *ts = t + pre * es;
        int64_t ms = m - pre - suf;
        int64_t ns = n - pre - suf;
        if (ms == 0 || ns == 0) {
            /* one side fully consumed: LCS = all of the shorter side,
             * distance = leftover of the longer */
            out[i] = (kind == 0) ? (ms == 0 ? m : n)
                                 : (ms == 0 ? ns : ms);
            continue;
        }
        /* BatchComparator analog: reuse masks when consecutive pairs
         * share the same (stripped) pattern content. */
        if (!(have_pm && ms == last_m
              && (ps == last_pat
                  || memcmp(ps, last_pat, (size_t)ms * es) == 0))) {
            pm_build(&pm, &ar, ps, es, ms, (ms + 63) >> 6);
            have_pm = 1; last_pat = ps; last_m = ms;
        }
        int64_t bound = bounds ? bounds[i] : -1;
        if (kind == 0) {
            /* the affix is always part of the LCS: bound moves inward */
            int64_t mb = (bound >= 0 && bound - pre - suf > 0)
                         ? bound - pre - suf : -1;
            int64_t r = lcs_one(ms, ts, es, ns, s1, &pm, mb);
            out[i] = (r < 0) ? -1 : r + pre + suf;
        } else if (kind == 1) {
            out[i] = lev_one(ms, ts, es, ns, s1, s2, &pm, bound);
        } else {
            out[i] = osa_one(ms, ts, es, ns, s1, s2, s3, s4, &pm, bound);
        }
    }
    free(s1); free(s2); free(s3); free(s4); arena_free(&ar);
    return 0;
}

/* ------------------- common affix lengths (round 4) ----------------- */
/* mode 0 = common prefix, 1 = common suffix; cap > 0 bounds the scan
 * (jaro_winkler's <= 4-char prefix boost).  Replaces the last per-row
 * python char loops in the prefix/postfix/jw scorer tails
 * (find_common_prefix/suffix, src/details/common.rs:39-62 analog). */
int batch_affix(int mode, int64_t cap,
                const void *pat, const int64_t *pat_off,
                const void *txt, const int64_t *txt_off,
                int64_t n_pairs, int64_t *out, int64_t elem_size) {
    const int es = (int)elem_size;
    for (int64_t p = 0; p < n_pairs; p++) {
        const char *a = (const char *)pat + pat_off[p] * es;
        int64_t m = pat_off[p + 1] - pat_off[p];
        const char *b = (const char *)txt + txt_off[p] * es;
        int64_t n = txt_off[p + 1] - txt_off[p];
        int64_t lim = m < n ? m : n;
        if (cap > 0 && cap < lim) lim = cap;
        int64_t k = 0;
        if (mode == 0) {
            while (k < lim && elem_at(a, k, es) == elem_at(b, k, es)) k++;
        } else {
            while (k < lim
                   && elem_at(a, m - 1 - k, es) == elem_at(b, n - 1 - k, es))
                k++;
        }
        out[p] = k;
    }
    return 0;
}

/* partial_ratio support: out[i] = max over all length-m windows of txt
 * of LCS(pat, window).  Pattern masks are built ONCE per pattern and
 * shared by every window; early-exits on a perfect window.  Caller
 * passes the shorter string as pat (m <= n). */
int batch_partial_lcs(const uint32_t *pat, const int64_t *pat_off,
                      const uint32_t *txt, const int64_t *txt_off,
                      int64_t n_pairs, int64_t *out) {
    int64_t mw = max_words(pat_off, n_pairs);
    int64_t max_m = 1;
    for (int64_t i = 0; i < n_pairs; i++) {
        int64_t m = pat_off[i + 1] - pat_off[i];
        if (m > max_m) max_m = m;
    }
    uint64_t *S = (uint64_t *)malloc((size_t)mw * sizeof(uint64_t));
    PMArena ar;
    int rc = arena_init(&ar, max_m, mw);
    if (!S || rc != 0) { free(S); arena_free(&ar); return -1; }
    PM pm;
    const uint32_t *last_pat = NULL;
    int64_t last_m = -1;
    int have_pm = 0;
    for (int64_t i = 0; i < n_pairs; i++) {
        const uint32_t *p = pat + pat_off[i];
        int64_t m = pat_off[i + 1] - pat_off[i];
        const uint32_t *t = txt + txt_off[i];
        int64_t n = txt_off[i + 1] - txt_off[i];
        if (m == 0 || n < m) { out[i] = 0; continue; }
        if (!(have_pm && m == last_m
              && (p == last_pat
                  || memcmp(p, last_pat,
                            (size_t)m * sizeof(uint32_t)) == 0))) {
            pm_build(&pm, &ar, p, 4, m, (m + 63) >> 6);
            have_pm = 1; last_pat = p; last_m = m;
        }
        int64_t best = 0;
        for (int64_t start = 0; start + m <= n; start++) {
            int64_t l = lcs_one(m, t + start, 4, m, S, &pm, -1);
            if (l > best) {
                best = l;
                if (best == m) break;
            }
        }
        out[i] = best;
    }
    free(S); arena_free(&ar);
    return 0;
}

/* ----------------------- Jaro similarity ---------------------------- */
/* Greedy lowest-unflagged in-window matching + ordered-mismatch
 * transposition count — behavior parity with src/distance/jaro.rs
 * :422-515 (window bound = max_len/2 - 1). */

typedef struct {
    uint32_t *keys; int32_t *slot2char; uint32_t cap; int32_t nchars;
} CharMap;

static int cmap_build(CharMap *cm, const uint32_t *pat, int64_t m,
                      int32_t *count /* per char, cap m */,
                      int32_t *start, int32_t *ptr, int32_t *positions) {
    uint32_t cap = 16;
    while (cap < (uint32_t)(2 * m)) cap <<= 1;
    cm->cap = cap; cm->nchars = 0;
    cm->keys = (uint32_t *)malloc((size_t)cap * sizeof(uint32_t));
    cm->slot2char = (int32_t *)malloc((size_t)cap * sizeof(int32_t));
    if (!cm->keys || !cm->slot2char) return -1;
    memset(cm->keys, 0xFF, (size_t)cap * sizeof(uint32_t));
    for (int64_t i = 0; i < m; i++) {
        uint32_t c = pat[i];
        uint32_t slot = hash32(c) & (cap - 1);
        while (cm->keys[slot] != EMPTY_KEY && cm->keys[slot] != c)
            slot = (slot + 1) & (cap - 1);
        if (cm->keys[slot] == EMPTY_KEY) {
            cm->keys[slot] = c;
            cm->slot2char[slot] = cm->nchars;
            count[cm->nchars++] = 0;
        }
        count[cm->slot2char[slot]]++;
    }
    int32_t acc = 0;
    for (int32_t c = 0; c < cm->nchars; c++) {
        start[c] = acc; ptr[c] = acc; acc += count[c];
    }
    /* fill positions grouped by char */
    int32_t *fill = (int32_t *)malloc((size_t)cm->nchars * sizeof(int32_t));
    if (!fill) return -1;
    memcpy(fill, start, (size_t)cm->nchars * sizeof(int32_t));
    for (int64_t i = 0; i < m; i++) {
        uint32_t c = pat[i];
        uint32_t slot = hash32(c) & (cap - 1);
        while (cm->keys[slot] != c) slot = (slot + 1) & (cap - 1);
        positions[fill[cm->slot2char[slot]]++] = (int32_t)i;
    }
    free(fill);
    return 0;
}

static inline int32_t cmap_char(const CharMap *cm, uint32_t c) {
    uint32_t slot = hash32(c) & (cm->cap - 1);
    while (1) {
        uint32_t k = cm->keys[slot];
        if (k == c) return cm->slot2char[slot];
        if (k == EMPTY_KEY) return -1;
        slot = (slot + 1) & (cm->cap - 1);
    }
}

static double jaro_one(const uint32_t *p, int64_t m, const uint32_t *t,
                       int64_t n, int32_t *count, int32_t *start,
                       int32_t *ptr, int32_t *positions,
                       int32_t *match_pos, uint32_t *t_chars,
                       unsigned char *flag) {
    if (m == 0 && n == 0) return 1.0;
    if (m == 0 || n == 0) return 0.0;
    if (m == 1 && n == 1) return (p[0] == t[0]) ? 1.0 : 0.0;
    int64_t maxlen = m > n ? m : n;
    int64_t bound = maxlen / 2 - 1;
    CharMap cm;
    if (cmap_build(&cm, p, m, count, start, ptr, positions) != 0) return -1.0;
    int64_t mc = 0;
    for (int64_t j = 0; j < n; j++) {
        int32_t c = cmap_char(&cm, t[j]);
        if (c < 0) continue;
        int32_t end = start[c] + count[c];
        int64_t lo = j - bound;
        int32_t q = ptr[c];
        while (q < end && positions[q] < lo) q++;
        ptr[c] = q;
        if (q < end && positions[q] <= j + bound) {
            match_pos[mc] = positions[q];
            t_chars[mc] = t[j];
            mc++;
            ptr[c] = q + 1;
        }
    }
    free(cm.keys); free(cm.slot2char);
    if (mc == 0) return 0.0;
    /* pattern chars at matched positions, in pattern order */
    memset(flag, 0, (size_t)m);
    for (int64_t k = 0; k < mc; k++) flag[match_pos[k]] = 1;
    int64_t transpositions = 0, k = 0;
    for (int64_t i = 0; i < m && k < mc; i++) {
        if (flag[i]) {
            if (p[i] != t_chars[k]) transpositions++;
            k++;
        }
    }
    transpositions /= 2;
    double dmc = (double)mc;
    return (dmc / (double)m + dmc / (double)n
            + (dmc - (double)transpositions) / dmc) / 3.0;
}

int batch_jaro(const uint32_t *pat, const int64_t *pat_off,
               const uint32_t *txt, const int64_t *txt_off,
               int64_t n_pairs, double *out) {
    int64_t mmax = 1, nmax = 1;
    for (int64_t i = 0; i < n_pairs; i++) {
        int64_t m = pat_off[i + 1] - pat_off[i];
        int64_t n = txt_off[i + 1] - txt_off[i];
        if (m > mmax) mmax = m;
        if (n > nmax) nmax = n;
    }
    int64_t mn = mmax < nmax ? mmax : nmax;
    int32_t *count = (int32_t *)malloc((size_t)mmax * sizeof(int32_t));
    int32_t *start = (int32_t *)malloc((size_t)mmax * sizeof(int32_t));
    int32_t *ptr = (int32_t *)malloc((size_t)mmax * sizeof(int32_t));
    int32_t *positions = (int32_t *)malloc((size_t)mmax * sizeof(int32_t));
    int32_t *match_pos = (int32_t *)malloc((size_t)(mn + 1) * sizeof(int32_t));
    uint32_t *t_chars = (uint32_t *)malloc((size_t)(mn + 1) * sizeof(uint32_t));
    unsigned char *flag = (unsigned char *)malloc((size_t)mmax);
    int rc = 0;
    if (!count || !start || !ptr || !positions || !match_pos || !t_chars
        || !flag) rc = -1;
    if (!rc) {
        for (int64_t i = 0; i < n_pairs; i++) {
            double s = jaro_one(pat + pat_off[i],
                                pat_off[i + 1] - pat_off[i],
                                txt + txt_off[i],
                                txt_off[i + 1] - txt_off[i],
                                count, start, ptr, positions,
                                match_pos, t_chars, flag);
            if (s < 0.0) { rc = -1; break; }
            out[i] = s;
        }
    }
    free(count); free(start); free(ptr); free(positions);
    free(match_pos); free(t_chars); free(flag);
    return rc;
}

/* ------------- Damerau-Levenshtein (Zhao-Sahni linear space) -------- */
/* Unrestricted adjacent transpositions.  Linear-space DP after
 * "A linear space string correction algorithm using the
 * Damerau-Levenshtein distance" (Zhao & Sahni, BMC Bioinformatics
 * 2019): three rows (current, previous, "FR" transposition row) plus a
 * char -> last-pattern-row map and two scalars replace the full
 * (m+2)x(n+2) matrix, so arbitrarily long inputs need O(n + sigma)
 * working memory — no cell cap, no caller fallback.  Same cost model
 * as the reference kernel (src/distance/damerau_levenshtein.rs:111-168,
 * the same published algorithm). */

int batch_damerau(const uint32_t *pat, const int64_t *pat_off,
                  const uint32_t *txt, const int64_t *txt_off,
                  int64_t n_pairs, int64_t *out) {
    int64_t mmax = 0, nmax = 0;
    for (int64_t i = 0; i < n_pairs; i++) {
        int64_t m = pat_off[i + 1] - pat_off[i];
        int64_t n = txt_off[i + 1] - txt_off[i];
        if (m > mmax) mmax = m;
        if (n > nmax) nmax = n;
    }
    int64_t size = nmax + 2;
    int64_t *r  = (int64_t *)malloc((size_t)size * sizeof(int64_t));
    int64_t *r1 = (int64_t *)malloc((size_t)size * sizeof(int64_t));
    int64_t *fr = (int64_t *)malloc((size_t)size * sizeof(int64_t));
    uint32_t cap = 16;
    while (cap < (uint32_t)(2 * (mmax > 0 ? mmax : 1))) cap <<= 1;
    uint32_t *keys = (uint32_t *)malloc((size_t)cap * sizeof(uint32_t));
    int64_t *vals = (int64_t *)malloc((size_t)cap * sizeof(int64_t));
    if (!r || !r1 || !fr || !keys || !vals) {
        free(r); free(r1); free(fr); free(keys); free(vals);
        return -1;
    }
    for (int64_t p = 0; p < n_pairs; p++) {
        const uint32_t *a = pat + pat_off[p];
        int64_t m = pat_off[p + 1] - pat_off[p];
        const uint32_t *b = txt + txt_off[p];
        int64_t n = txt_off[p + 1] - txt_off[p];
        if (m == 0) { out[p] = n; continue; }
        if (n == 0) { out[p] = m; continue; }
        int64_t max_val = (m > n ? m : n) + 1;
        for (int64_t j = 0; j < n + 2; j++) {
            fr[j] = max_val;
            r1[j] = max_val;
        }
        r[0] = max_val;
        for (int64_t j = 1; j < n + 2; j++) r[j] = j - 1;
        memset(keys, 0xFF, (size_t)cap * sizeof(uint32_t));
        for (int64_t i = 1; i <= m; i++) {
            int64_t *tmp = r; r = r1; r1 = tmp;  /* rotate rows */
            uint32_t c1 = a[i - 1];
            int64_t last_col_id = -1;  /* last j with a[i-1] == b[j-1] */
            int64_t last_i2l1 = r[1];  /* H[i-2][j-1] as j advances */
            r[1] = i;
            int64_t t = max_val;       /* H[i-2][l-1] at last match col */
            for (int64_t j = 1; j <= n; j++) {
                uint32_t c2 = b[j - 1];
                int64_t diag = r1[j] + (c1 != c2 ? 1 : 0);
                int64_t left = r[j] + 1;
                int64_t up = r1[j + 1] + 1;
                int64_t temp = diag < left ? diag : left;
                if (up < temp) temp = up;
                if (c1 == c2) {
                    last_col_id = j;
                    fr[j + 1] = r1[j - 1];  /* H[k-1][j-2] for col j */
                    t = last_i2l1;
                } else {
                    int64_t k = -1;  /* last pattern row containing c2 */
                    uint32_t slot = hash32(c2) & (cap - 1);
                    while (1) {
                        uint32_t key = keys[slot];
                        if (key == c2) { k = vals[slot]; break; }
                        if (key == EMPTY_KEY) break;
                        slot = (slot + 1) & (cap - 1);
                    }
                    int64_t l = last_col_id;
                    if (j - l == 1) {
                        int64_t transpose = fr[j + 1] + (i - k);
                        if (transpose < temp) temp = transpose;
                    } else if (i - k == 1) {
                        int64_t transpose = t + (j - l);
                        if (transpose < temp) temp = transpose;
                    }
                }
                last_i2l1 = r[j + 1];
                r[j + 1] = temp;
            }
            /* last_row_id[c1] = i */
            uint32_t slot = hash32(c1) & (cap - 1);
            while (keys[slot] != EMPTY_KEY && keys[slot] != c1)
                slot = (slot + 1) & (cap - 1);
            keys[slot] = c1; vals[slot] = i;
        }
        out[p] = r[n + 1];
    }
    free(r); free(r1); free(fr); free(keys); free(vals);
    return 0;
}

/* ------------- partition-local union-find (round 5) ----------------- */
/* Dense-id union-find with union-by-min-root and path halving: powers
 * the partition-local edge pre-contraction under connected components
 * (pipeline/cluster.py) — each Spark partition's edge set collapses to
 * one spanning edge per non-root node BEFORE the first distributed
 * star-round shuffle.  us/vs: m edges over dense node ids in
 * [0, n_nodes); parent (size n_nodes) must arrive initialized to
 * identity; on return parent[i] is the id of the component minimum
 * (union-by-min keeps the smallest id as every root, matching the
 * min-id cluster labels of the star rounds). */
int batch_union_find(const int64_t *us, const int64_t *vs, int64_t m,
                     int64_t n_nodes, int64_t *parent) {
    for (int64_t e = 0; e < m; e++) {
        int64_t a = us[e], b = vs[e];
        while (parent[a] != a) { parent[a] = parent[parent[a]]; a = parent[a]; }
        while (parent[b] != b) { parent[b] = parent[parent[b]]; b = parent[b]; }
        if (a == b) continue;
        if (a < b) parent[b] = a; else parent[a] = b;
    }
    for (int64_t i = 0; i < n_nodes; i++) {
        int64_t r = i;
        while (parent[r] != r) r = parent[r];
        int64_t x = i;
        while (parent[x] != x) { int64_t nx = parent[x]; parent[x] = r; x = nx; }
    }
    return 0;
}

/* --------------------- MinHash band keys (round 6) ------------------ */
/* Whole-batch MinHash-LSH band-key computation: the C twin of
 * kernels/_native.py::_minhash_py, BIT-EXACT with that numpy
 * reference (which remains the Python backend and the
 * DuckDB-oracle parity definition).  Per document: k-gram polynomial
 * shingle hashes over code points (uint64 wrap, x1000003), then for
 * each of n_hashes affine functions min over shingles of
 * (a*x + b) % (2^61 - 1) with numpy's EXACT semantics — the multiply
 * and add WRAP mod 2^64 first, the Mersenne modulus applies to the
 * wrapped value (the compile-time-constant modulus strength-reduces to
 * multiply-high, the main win over numpy's runtime-divisor division);
 * duplicates need no dedup for a min.  Band key = the row-fold
 * (x0x9E3779B97F4A7C15 + row, uint64 wrap) >> 1, plus band << 56.
 * Short docs (< k code points) use the FNV-1a-style single shingle of
 * the reference implementation.  out: n_docs x n_bands int64 keys. */
int batch_minhash(const void *txt, const int64_t *off, int64_t n_docs,
                  int64_t elem_size, int64_t k,
                  const uint64_t *A, const uint64_t *B, int64_t n_hashes,
                  int64_t n_bands, int64_t rows_per_band,
                  int64_t *out) {
    const uint64_t M = (1ULL << 61) - 1ULL;
    const int es = (int)elem_size;
    uint64_t *sig = (uint64_t *)malloc((size_t)n_hashes * sizeof(uint64_t));
    if (!sig) return -1;
    for (int64_t d = 0; d < n_docs; d++) {
        const char *t = (const char *)txt + off[d] * es;
        int64_t L = off[d + 1] - off[d];
        for (int64_t i = 0; i < n_hashes; i++) sig[i] = ~0ULL;
        if (L < k) {
            uint64_t hv = 1469598103934665603ULL;
            for (int64_t j = 0; j < L; j++)
                hv = (hv * 1099511628211ULL) ^ (uint64_t)elem_at(t, j, es);
            uint64_t x = hv >> 1;  /* no mask in the short branch */
            for (int64_t i = 0; i < n_hashes; i++)
                sig[i] = (A[i] * x + B[i]) % M;
        } else {
            /* rolling window of k code points: maintain the polynomial
             * by explicit recompute per position (k is tiny, ~5) */
            for (int64_t p = 0; p + k <= L; p++) {
                uint64_t h = 0;
                for (int64_t j = 0; j < k; j++)
                    h = h * 1000003ULL + (uint64_t)elem_at(t, p + j, es);
                uint64_t x = h & 0x7FFFFFFFFFFFFFFFULL;
                for (int64_t i = 0; i < n_hashes; i++) {
                    uint64_t v = (A[i] * x + B[i]) % M;
                    if (v < sig[i]) sig[i] = v;
                }
            }
        }
        for (int64_t b = 0; b < n_bands; b++) {
            uint64_t key = 0;
            for (int64_t r = 0; r < rows_per_band; r++)
                key = key * 0x9E3779B97F4A7C15ULL
                      + sig[b * rows_per_band + r];
            /* add in uint64 and cast ONCE: (key>>1) + (b<<56) can
             * exceed INT64_MAX for high bands — signed overflow is UB
             * under -O3, while the uint64 add wraps exactly like
             * numpy's int64 (+ two's-complement cast) does */
            out[d * n_bands + b] =
                (int64_t)((key >> 1) + ((uint64_t)b << 56));
        }
    }
    free(sig);
    return 0;
}
