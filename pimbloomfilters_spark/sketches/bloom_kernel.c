/* Fused blocked-Bloom kernel: per key, the XXH64 double hash, the blocked
 * base and the k probes happen in one pass, so no (n, k) position matrix
 * exists. Bit-identical to bloom_positions + scatter_or_bits in bloom.py,
 * which stay as the oracle and the fallback.
 *
 * Geometry: 2^block_log2-bit blocks, 2^nblock_log2 blocks, 2^shard_bits
 * shards (shard = top shard_bits of h1, a prefix of the block index).
 * words is a 2-D (n_slots, slot_words) buffer; slot_of[shard] names the row
 * holding that shard's bit range, or is < 0 when the caller gave it none.
 * Keys of a shard without a row are skipped and counted; the return value
 * is that count, so nothing is ever written outside the buffer. The caller
 * checks slot_of against n_slots and slot_words against the geometry.
 *
 * pbf_popcount counts the set bits of a word array: the filter's weight,
 * which also picks the dense or sparse wire form. */
#include <stdint.h>

static inline uint64_t rotl(uint64_t x, int r) { return (x << r) | (x >> (64 - r)); }

static inline uint64_t xxh64_u64(uint64_t x, uint64_t seed) {
    uint64_t acc = seed + 0x27D4EB2F165667C5ULL + 8;
    acc ^= rotl(x * 0xC2B2AE3D27D4EB4FULL, 31) * 0x9E3779B185EBCA87ULL;
    acc = rotl(acc, 27) * 0x9E3779B185EBCA87ULL + 0x85EBCA77C2B2AE63ULL;
    acc ^= acc >> 33; acc *= 0xC2B2AE3D27D4EB4FULL;
    acc ^= acc >> 29; acc *= 0x165667B19E3779F9ULL;
    return acc ^ (acc >> 32);
}

/* h1, h2 of one key, its slot's row in words and its bit base inside that row */
#define PBF_PROBE_SETUP                                                      \
    uint64_t h1 = xxh64_u64(keys[j], seed);                                 \
    uint64_t h2 = xxh64_u64(keys[j], seed + 0x9E37) | 1;                    \
    int32_t slot = slot_of[shard_bits ? h1 >> (64 - shard_bits) : 0];       \
    if (slot < 0) { bad++; continue; }                                      \
    uint64_t block = nblock_log2 ? h1 >> (64 - nblock_log2) : 0;            \
    uint64_t base = (block & local_blocks) << block_log2;                   \
    uint64_t *w = words + (int64_t)slot * slot_words;

int64_t pbf_insert(const uint64_t *keys, int64_t n, uint64_t seed, int k,
                   int block_log2, int nblock_log2, int shard_bits,
                   const int32_t *slot_of, uint64_t *words, int64_t slot_words) {
    uint64_t bmask = (1ULL << block_log2) - 1;
    uint64_t local_blocks = (1ULL << (nblock_log2 - shard_bits)) - 1;
    int64_t bad = 0;
    for (int64_t j = 0; j < n; j++) {
        PBF_PROBE_SETUP
        for (int i = 0; i < k; i++) {
            uint64_t p = base + ((h1 + (uint64_t)i * h2) & bmask);
            w[p >> 6] |= 1ULL << (p & 63);
        }
    }
    return bad;
}

int64_t pbf_contains(const uint64_t *keys, int64_t n, uint64_t seed, int k,
                     int block_log2, int nblock_log2, int shard_bits,
                     const int32_t *slot_of, uint64_t *words, int64_t slot_words,
                     uint8_t *out) {
    uint64_t bmask = (1ULL << block_log2) - 1;
    uint64_t local_blocks = (1ULL << (nblock_log2 - shard_bits)) - 1;
    int64_t bad = 0;
    for (int64_t j = 0; j < n; j++) {
        out[j] = 0;
        PBF_PROBE_SETUP
        uint8_t hit = 1;
        for (int i = 0; i < k && hit; i++) {
            uint64_t p = base + ((h1 + (uint64_t)i * h2) & bmask);
            hit = (w[p >> 6] >> (p & 63)) & 1;
        }
        out[j] = hit;
    }
    return bad;
}

/* counts[shard] += keys routed to each of the 2^shard_bits shards */
void pbf_shard_counts(const uint64_t *keys, int64_t n, uint64_t seed,
                      int shard_bits, int64_t *counts) {
    for (int64_t j = 0; j < n; j++)
        counts[shard_bits ? xxh64_u64(keys[j], seed) >> (64 - shard_bits) : 0]++;
}

/* set bits in words[0..n) */
int64_t pbf_popcount(const uint64_t *words, int64_t n) {
    int64_t c = 0;
    for (int64_t j = 0; j < n; j++) c += __builtin_popcountll(words[j]);
    return c;
}
