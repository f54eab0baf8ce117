/* Native kernels for the sequential community-detection tail.
 *
 * The only implementation of the tail's CSR build, local moving and
 * refinement (graft/algos/seq_tail.py, graft/algos/leiden.py).  Their
 * Python references (tests/reference_impls.py) fix the semantics:
 * identical visit schedules, identical float accumulation order
 * (ascending-neighbor per candidate community), identical tie-breaks.
 * Compiled with -ffp-contract=off so no FMA contraction can change a
 * rounding step relative to numpy's strict IEEE double arithmetic.
 * tests/test_native_kernels.py pins the kernels to the references
 * exactly.
 */

#include <stdint.h>
#include <stdlib.h>
#include <string.h>

/* ------------------------------------------------------------------ */
/* numpy-compatible RNG: SeedSequence -> PCG64 -> Generator.permutation.
 * Replicates numpy's documented algorithms (SeedSequence pool hashing,
 * PCG64 XSL-RR 128/64, mask-and-reject bounded draws with the 32-bit
 * buffering of pcg64_next32).  Validated at import time against
 * np.random.default_rng(seed).permutation(n) for a spread of seeds and
 * lengths; any mismatch fails the library load.          */

#define SS_INIT_A 0x43b0d7e5u
#define SS_MULT_A 0x931e8875u
#define SS_INIT_B 0x8b51f9ddu
#define SS_MULT_B 0x58f38dedu
#define SS_MIX_L 0xca01f9ddu
#define SS_MIX_R 0x4973f715u
#define SS_XSHIFT 16

static uint32_t ss_hashmix(uint32_t value, uint32_t *hash_const) {
    value ^= *hash_const;
    *hash_const *= SS_MULT_A;
    value *= *hash_const;
    value ^= value >> SS_XSHIFT;
    return value;
}

static uint32_t ss_mix(uint32_t x, uint32_t y) {
    uint32_t result = SS_MIX_L * x - SS_MIX_R * y;
    result ^= result >> SS_XSHIFT;
    return result;
}

/* SeedSequence(entropy).generate_state(4, uint64) for an integer
 * entropy value < 2**64 and no spawn key (pool size 4). */
static void seedseq_state4(uint64_t entropy_val, uint64_t out[4]) {
    uint32_t entropy[2];
    int ent_len = 0;
    if (entropy_val == 0) {
        entropy[ent_len++] = 0u;
    } else {
        uint64_t v = entropy_val;
        while (v) {
            entropy[ent_len++] = (uint32_t)(v & 0xffffffffu);
            v >>= 32;
        }
    }
    uint32_t pool[4];
    uint32_t hash_const = SS_INIT_A;
    int i, i_src, i_dst;
    for (i = 0; i < 4; i++)
        pool[i] = ss_hashmix(i < ent_len ? entropy[i] : 0u, &hash_const);
    /* (entropy longer than the pool would be folded in here; ent_len<=2) */
    for (i_src = 0; i_src < 4; i_src++)
        for (i_dst = 0; i_dst < 4; i_dst++)
            if (i_src != i_dst)
                pool[i_dst] =
                    ss_mix(pool[i_dst], ss_hashmix(pool[i_src], &hash_const));
    uint32_t hb = SS_INIT_B;
    uint32_t w[8];
    int src = 0;
    for (i = 0; i < 8; i++) {
        uint32_t data_val = pool[src++];
        if (src == 4)
            src = 0;
        data_val ^= hb;
        hb *= SS_MULT_B;
        data_val *= hb;
        data_val ^= data_val >> SS_XSHIFT;
        w[i] = data_val;
    }
    for (i = 0; i < 4; i++)
        out[i] = ((uint64_t)w[2 * i]) | (((uint64_t)w[2 * i + 1]) << 32);
}

typedef struct {
    unsigned __int128 state;
    unsigned __int128 inc;
    int has_uint32;
    uint32_t uinteger;
} pcg64_t;

static const uint64_t PCG_MULT_HI = 0x2360ed051fc65da4ULL;
static const uint64_t PCG_MULT_LO = 0x4385df649fccf645ULL;

static inline void pcg64_step(pcg64_t *r) {
    unsigned __int128 mult =
        (((unsigned __int128)PCG_MULT_HI) << 64) | PCG_MULT_LO;
    r->state = r->state * mult + r->inc;
}

static inline uint64_t rotr64(uint64_t v, unsigned rot) {
    return (v >> rot) | (v << ((-rot) & 63u));
}

static inline uint64_t pcg64_next64(pcg64_t *r) {
    pcg64_step(r);
    uint64_t hi = (uint64_t)(r->state >> 64);
    uint64_t lo = (uint64_t)r->state;
    return rotr64(hi ^ lo, (unsigned)(r->state >> 122));
}

static inline uint32_t pcg64_next32(pcg64_t *r) {
    if (r->has_uint32) {
        r->has_uint32 = 0;
        return r->uinteger;
    }
    uint64_t next = pcg64_next64(r);
    r->has_uint32 = 1;
    r->uinteger = (uint32_t)(next >> 32);
    return (uint32_t)(next & 0xffffffffu);
}

static void pcg64_seed(pcg64_t *r, const uint64_t st4[4]) {
    unsigned __int128 initstate =
        (((unsigned __int128)st4[0]) << 64) | st4[1];
    unsigned __int128 initseq = (((unsigned __int128)st4[2]) << 64) | st4[3];
    r->state = 0;
    r->inc = (initseq << 1) | 1;
    pcg64_step(r);
    r->state += initstate;
    pcg64_step(r);
    r->has_uint32 = 0;
    r->uinteger = 0;
}

/* numpy random_interval: uniform in [0, max], mask-and-reject. */
static uint64_t random_interval(pcg64_t *r, uint64_t max) {
    uint64_t mask, value;
    if (max == 0)
        return 0;
    mask = max;
    mask |= mask >> 1;
    mask |= mask >> 2;
    mask |= mask >> 4;
    mask |= mask >> 8;
    mask |= mask >> 16;
    mask |= mask >> 32;
    if (max <= 0xffffffffULL) {
        while ((value = (pcg64_next32(r) & mask)) > max)
            ;
    } else {
        while ((value = (pcg64_next64(r) & mask)) > max)
            ;
    }
    return value;
}

/* out[0..n) = np.random.default_rng(seedval).permutation(n) */
void np_permutation(uint64_t seedval, int64_t n, int64_t *out) {
    uint64_t st4[4];
    pcg64_t rng;
    int64_t i;
    seedseq_state4(seedval, st4);
    pcg64_seed(&rng, st4);
    for (i = 0; i < n; i++)
        out[i] = i;
    for (i = n - 1; i > 0; i--) {
        uint64_t j = random_interval(&rng, (uint64_t)i);
        int64_t tmp = out[i];
        out[i] = out[(int64_t)j];
        out[(int64_t)j] = tmp;
    }
}

/* ------------------------------------------------------------------ */
/* CSR build: both-direction CSR with each row's neighbors ascending,
 * identical output to seq_tail._csr (lexsort by (su, sv)).  Input half
 * edges carry unique (eu < ev) pairs, so the sorted order is unique and
 * two stable counting sorts reproduce the lexsort exactly.            */

void csr_build(int64_t n, int64_t mh, const int64_t *eu, const int64_t *ev,
               const double *ew, int64_t *indptr /* n+1 */,
               int64_t *nbr /* 2*mh */, double *wgt /* 2*mh */) {
    int64_t m2 = 2 * mh;
    int64_t *su = (int64_t *)malloc(sizeof(int64_t) * m2);
    int64_t *sv = (int64_t *)malloc(sizeof(int64_t) * m2);
    double *sw = (double *)malloc(sizeof(double) * m2);
    int64_t *cnt = (int64_t *)calloc(n + 1, sizeof(int64_t));
    int64_t i;
    /* pass 1: stable counting sort of the 2*mh directed copies by sv */
    for (i = 0; i < mh; i++) {
        cnt[ev[i] + 1]++;
        cnt[eu[i] + 1]++;
    }
    for (i = 0; i < n; i++)
        cnt[i + 1] += cnt[i];
    /* directed copies in input order: first the (eu->ev) block then the
     * (ev->eu) block, exactly like np.concatenate in _csr; the counting
     * sort below is stable w.r.t. this order. */
    {
        int64_t *pos = (int64_t *)malloc(sizeof(int64_t) * (n + 1));
        memcpy(pos, cnt, sizeof(int64_t) * (n + 1));
        for (i = 0; i < mh; i++) {
            int64_t p = pos[ev[i]]++;
            su[p] = eu[i];
            sv[p] = ev[i];
            sw[p] = ew[i];
        }
        for (i = 0; i < mh; i++) {
            int64_t p = pos[eu[i]]++;
            su[p] = ev[i];
            sv[p] = eu[i];
            sw[p] = ew[i];
        }
        free(pos);
    }
    /* pass 2: stable counting sort by su -> final (su asc, sv asc) */
    memset(indptr, 0, sizeof(int64_t) * (n + 1));
    for (i = 0; i < m2; i++)
        indptr[su[i] + 1]++;
    for (i = 0; i < n; i++)
        indptr[i + 1] += indptr[i];
    {
        int64_t *pos = (int64_t *)malloc(sizeof(int64_t) * (n + 1));
        memcpy(pos, indptr, sizeof(int64_t) * (n + 1));
        for (i = 0; i < m2; i++) {
            int64_t p = pos[su[i]]++;
            nbr[p] = sv[i];
            wgt[p] = sw[i];
        }
        free(pos);
    }
    free(su);
    free(sv);
    free(sw);
    free(cnt);
}

/* ------------------------------------------------------------------ */
/* Greedy queue-based local moving: exact replica of
 * tests/reference_impls.local_move_ref (semantics: the docstring of
 * seq_tail._local_move).  comm holds
 * community SLOT indices; n_c / stot are the per-slot aggregates the
 * Python caller computed; perm is the seeded visit permutation.
 * Returns visits<<32 is avoided: counters go to out params.           */

void local_move(int64_t n, int64_t n_slots, const int64_t *indptr,
                const int64_t *nbr, const double *wgt, const int64_t *size,
                const double *strength, int64_t *comm, int64_t *n_c,
                double *stot, const int64_t *perm, int is_cpm, double gamma,
                double m, int64_t *out_visits, int64_t *out_moves) {
    int64_t cap = n + 1;
    int64_t *q = (int64_t *)malloc(sizeof(int64_t) * cap);
    unsigned char *in_q = (unsigned char *)malloc(n);
    double *k_acc = (double *)calloc(n_slots, sizeof(double));
    int64_t *stamp = (int64_t *)calloc(n_slots, sizeof(int64_t));
    int64_t *touched = (int64_t *)malloc(sizeof(int64_t) * n_slots);
    int64_t head = 0, tail = 0;
    int64_t visits = 0, moves = 0;
    double two_m_sq = 2.0 * m * m;
    int64_t i;
    for (i = 0; i < n; i++)
        q[tail++] = perm[i];
    memset(in_q, 1, n);
    while (head != tail) {
        int64_t v = q[head++];
        if (head == cap)
            head = 0;
        in_q[v] = 0;
        visits++;
        int64_t s = indptr[v], e = indptr[v + 1];
        if (s == e)
            continue;
        int64_t cv = comm[v];
        int64_t sv = size[v];
        double kv = strength[v];
        /* gather k_to per candidate community; per-community accumulation
         * runs in ascending-neighbor order (CSR rows are ascending), the
         * order the reference uses. */
        int64_t nt = 0;
        int64_t st = visits; /* unique per visit; stamp[] starts at 0 */
        int64_t idx;
        for (idx = s; idx < e; idx++) {
            int64_t c = comm[nbr[idx]];
            if (stamp[c] != st) {
                stamp[c] = st;
                k_acc[c] = wgt[idx];
                touched[nt++] = c;
            } else {
                k_acc[c] += wgt[idx];
            }
        }
        double k_own = (stamp[cv] == st) ? k_acc[cv] : 0.0;
        /* argmax with min-label tie-break, order-independent (no sort):
         * equivalent to the reference's ascending iteration with a
         * strict > test — max delta wins, ties resolve to the smallest
         * community label, nothing commits at delta <= 0. */
        int64_t best = -1;
        double best_delta = 0.0;
        if (is_cpm) {
            double base =
                k_own - (gamma * (double)sv) * (double)(n_c[cv] - sv);
            int64_t t;
            for (t = 0; t < nt; t++) {
                int64_t c = touched[t];
                if (c == cv)
                    continue;
                double delta =
                    (k_acc[c] - (gamma * (double)sv) * (double)n_c[c]) - base;
                if (delta > best_delta ||
                    (delta == best_delta && best >= 0 && c < best)) {
                    best = c;
                    best_delta = delta;
                }
            }
        } else {
            double sc = stot[cv];
            int64_t t;
            for (t = 0; t < nt; t++) {
                int64_t c = touched[t];
                if (c == cv)
                    continue;
                double delta = (k_acc[c] - k_own) / m -
                               kv * (stot[c] - sc + kv) / two_m_sq;
                if (delta > best_delta ||
                    (delta == best_delta && best >= 0 && c < best)) {
                    best = c;
                    best_delta = delta;
                }
            }
        }
        if (best >= 0 && best_delta > 0.0) {
            moves++;
            n_c[cv] -= sv;
            n_c[best] += sv;
            stot[cv] -= kv;
            stot[best] += kv;
            comm[v] = best;
            for (idx = s; idx < e; idx++) {
                int64_t u = nbr[idx];
                if (comm[u] != best && !in_q[u]) {
                    q[tail++] = u;
                    if (tail == cap)
                        tail = 0;
                    in_q[u] = 1;
                }
            }
        }
    }
    free(q);
    free(in_q);
    free(k_acc);
    free(stamp);
    free(touched);
    *out_visits = visits;
    *out_moves = moves;
}

/* ------------------------------------------------------------------ */
/* Batched CPM refinement: merge_nodes_subset semantics
 * (tests/reference_impls.refine_subset_ref) for a batch of communities.  Per group: members are local indices 0..k-1 in
 * ascending-id order; edges carry group-local endpoint indices with
 * u <= v, sorted by (u, v) (loops skipped like the reference, and
 * duplicate pairs accumulated in order).  The per-group visit order is
 * np.random.default_rng((seed*1000003 + comm_label) % 2**63)
 * .permutation(k), drawn with the validated RNG above.  Output:
 * refined_out[member] = group-local index of the refined community's
 * founding member.                                                    */

void refine_batch(int64_t n_groups, const int64_t *node_start /* n_groups+1 */,
                  const int64_t *edge_start /* n_groups+1 */,
                  const int64_t *sizes /* per member, group-local order */,
                  const int64_t *s_tot /* per group */,
                  const int64_t *comm_label /* per group */,
                  const int64_t *eu, const int64_t *ev, const double *ew,
                  double gamma, int64_t seed, int64_t max_k, int64_t max_e,
                  int64_t *refined_out) {
    /* scratch sized to the largest group */
    int64_t *deg = (int64_t *)malloc(sizeof(int64_t) * (max_k + 1));
    int64_t *adj_ptr = (int64_t *)malloc(sizeof(int64_t) * (max_k + 1));
    int64_t *adj_nbr = (int64_t *)malloc(sizeof(int64_t) * 2 * (max_e > 0 ? max_e : 1));
    double *adj_w = (double *)malloc(sizeof(double) * 2 * (max_e > 0 ? max_e : 1));
    int64_t *du = (int64_t *)malloc(sizeof(int64_t) * (max_e > 0 ? max_e : 1));
    int64_t *dv = (int64_t *)malloc(sizeof(int64_t) * (max_e > 0 ? max_e : 1));
    double *dw = (double *)malloc(sizeof(double) * (max_e > 0 ? max_e : 1));
    double *v_in = (double *)malloc(sizeof(double) * max_k);
    int64_t *refined = (int64_t *)malloc(sizeof(int64_t) * max_k);
    int64_t *rc_n = (int64_t *)malloc(sizeof(int64_t) * max_k);
    int64_t *rc_size = (int64_t *)malloc(sizeof(int64_t) * max_k);
    double *rc_cut = (double *)malloc(sizeof(double) * max_k);
    int64_t *perm = (int64_t *)malloc(sizeof(int64_t) * max_k);
    double *k_acc = (double *)malloc(sizeof(double) * max_k);
    int64_t *stamp = (int64_t *)calloc(max_k, sizeof(int64_t));
    int64_t *touched = (int64_t *)malloc(sizeof(int64_t) * max_k);
    int64_t stv = 0;
    int64_t g;
    for (g = 0; g < n_groups; g++) {
        int64_t nbase = node_start[g];
        int64_t k = node_start[g + 1] - nbase;
        int64_t ebase = edge_start[g];
        int64_t ne_raw = edge_start[g + 1] - ebase;
        const int64_t *gsz = sizes + nbase;
        int64_t stot_g = s_tot[g];
        int64_t i;
        if (k == 1) {
            refined_out[nbase] = 0; /* singleton: no rng drawn */
            continue;
        }
        /* dedup + drop loops, accumulating duplicate (u,v) in order */
        int64_t ne = 0;
        for (i = 0; i < ne_raw; i++) {
            int64_t u = eu[ebase + i], v = ev[ebase + i];
            if (u == v)
                continue;
            if (ne > 0 && du[ne - 1] == u && dv[ne - 1] == v)
                dw[ne - 1] += ew[ebase + i];
            else {
                du[ne] = u;
                dv[ne] = v;
                dw[ne] = ew[ebase + i];
                ne++;
            }
        }
        /* group-local CSR, neighbors ascending (two-block stable fill:
         * (u,v) sorted with u < v means the v-side entries of a node
         * arrive u-ascending before its u-side entries arrive
         * v-ascending -- the same ascending insertion order the reference's
         * dict adjacency ends up with). */
        memset(deg, 0, sizeof(int64_t) * (k + 1));
        for (i = 0; i < ne; i++) {
            deg[du[i] + 1]++;
            deg[dv[i] + 1]++;
        }
        adj_ptr[0] = 0;
        for (i = 0; i < k; i++)
            adj_ptr[i + 1] = adj_ptr[i] + deg[i + 1];
        {
            int64_t *pos = deg; /* reuse as cursor */
            memcpy(pos, adj_ptr, sizeof(int64_t) * (k + 1));
            /* v-side first: for node v, neighbor u (u<v), u ascending */
            for (i = 0; i < ne; i++) {
                int64_t p = pos[dv[i]]++;
                adj_nbr[p] = du[i];
                adj_w[p] = dw[i];
            }
            /* then u-side: for node u, neighbor v (v>u), v ascending */
            for (i = 0; i < ne; i++) {
                int64_t p = pos[du[i]]++;
                adj_nbr[p] = dv[i];
                adj_w[p] = dw[i];
            }
        }
        /* v_in: per-row sum in ascending-neighbor order */
        for (i = 0; i < k; i++) {
            double acc = 0.0;
            int64_t j;
            for (j = adj_ptr[i]; j < adj_ptr[i + 1]; j++)
                acc += adj_w[j];
            v_in[i] = acc;
        }
        for (i = 0; i < k; i++) {
            refined[i] = i;
            rc_n[i] = gsz[i];
            rc_size[i] = 1;
            rc_cut[i] = v_in[i];
        }
        {
            unsigned __int128 sv128 =
                (unsigned __int128)(uint64_t)seed * 1000003u +
                (uint64_t)comm_label[g];
            uint64_t seedval =
                (uint64_t)(sv128 & ((((unsigned __int128)1) << 63) - 1));
            np_permutation(seedval, k, perm);
        }
        int64_t t;
        for (t = 0; t < k; t++) {
            int64_t v = perm[t];
            int64_t nv = gsz[v];
            if (v_in[v] < (gamma * (double)nv) * (double)(stot_g - nv))
                continue;
            if (rc_size[refined[v]] > 1)
                continue;
            int64_t rv = refined[v];
            int64_t nt = 0;
            int64_t j;
            stv++;
            for (j = adj_ptr[v]; j < adj_ptr[v + 1]; j++) {
                int64_t rc = refined[adj_nbr[j]];
                if (rc == rv)
                    continue;
                if (stamp[rc] != stv) {
                    stamp[rc] = stv;
                    k_acc[rc] = adj_w[j];
                    touched[nt++] = rc;
                } else {
                    k_acc[rc] += adj_w[j];
                }
            }
            int64_t best = -1;
            double best_delta = 0.0;
            int64_t c;
            for (c = 0; c < nt; c++) {
                int64_t rc = touched[c]; /* first-touch order, like the
                                            reference's dict; the tie rule
                                            below is order-independent */
                if (rc_cut[rc] <
                    (gamma * (double)rc_n[rc]) * (double)(stot_g - rc_n[rc]))
                    continue;
                double delta =
                    k_acc[rc] - (gamma * (double)nv) * (double)rc_n[rc];
                if ((delta > best_delta ||
                     (delta == best_delta && best != -1 && rc < best)) &&
                    delta > 0.0) {
                    best = rc;
                    best_delta = delta;
                }
            }
            if (best != -1) {
                refined[v] = best;
                rc_n[best] += nv;
                rc_size[best] += 1;
                rc_cut[best] += v_in[v] - 2.0 * k_acc[best];
            }
        }
        for (i = 0; i < k; i++)
            refined_out[nbase + i] = refined[i];
    }
    free(deg);
    free(adj_ptr);
    free(adj_nbr);
    free(adj_w);
    free(du);
    free(dv);
    free(dw);
    free(v_in);
    free(refined);
    free(rc_n);
    free(rc_size);
    free(rc_cut);
    free(perm);
    free(k_acc);
    free(stamp);
    free(touched);
}
