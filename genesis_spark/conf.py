"""Crawl-policy constants mirroring the reference configuration.

Reference: /root/reference/app/crawler/constants/constant.py:46-101 and
docker-compose.yml. Every constant here is cited to the reference line that
defines the same policy; these are *semantics*, not code, so they are shared by
the Spark engine, the pure-Python oracle crawler, and the fixture generator.
"""

# --- BFS expansion policy (constant.py:82-84) ---
MAX_ALLOWED_DEPTH = 2          # S_MAX_ALLOWED_DEPTH: pages at depth<2 expand
SUB_URL_DEPTH = 50             # S_SUB_URL_DEPTH: per-page expansion slice cap
DEFAULT_DEPTH = 0              # S_DEFAULT_DEPTH: seeds enter at depth 0

# The parser truncates the emitted doc's sub_url list to 10
# (html_parse_manager.py:386 -> __get_static_file returns m_sub_url[0:10]) and
# the crawl loop expands from the *emitted doc* (generic_parse_controller.py:80
# returns m_parsed_model.m_sub_url), so the effective per-page expansion cap is
# min(DOC_SUB_URL_CAP, SUB_URL_DEPTH) = 10.
DOC_SUB_URL_CAP = 10

# --- URL admission (constant.py:98; html_parse_manager.py:63-107) ---
MAX_URL_SIZE = 480             # S_MAX_URL_SIZE: admitted iff 5 < len <= 480
STORED_LINK_MAX = 150          # per-bucket stored-link length cap (< 150)
QUERY_URL_CAP = 5              # fragment-URL budget (m_query_url_count < 5)

# --- media caps (html_parse_manager.py:80-95,121-128) ---
MEDIA_CAP_PER_KIND = 10        # images/videos/documents/archives via <a href>
IMG_TAG_IMAGE_CAP = 35         # <img src> images (jpg/jpeg/png only)

# --- failure policy (generic_parse_controller.py:108-114) ---
# Before the first successful page of a host, a failing queue head is retried;
# m_failure_count increments to 3 before the >2 check pops it, i.e. 4 attempts.
MAX_SEED_ATTEMPTS = 4

# --- important-content budget (html_parse_manager.py:242-244) ---
IMPORTANT_CONTENT_MAX_LONG = 2000
IMPORTANT_CONTENT_MAX_SHORT = 500

# --- content-type vocabulary (constants/enums.py:14-48) ---
CONTENT_TYPE_GENERAL = "general"
VALID_CONTENT_TYPES = [
    "general", "forums", "news", "stolen", "drugs", "hacking", "marketplaces",
    "cryptocurrency", "leaks", "adult", "carding", "scams", "ransomware",
    "databases", "money_laundering", "counterfeit", "malware", "botnets",
    "exploits", "spam", "chemicals", "weapons", "human_trafficking", "csam",
    "doxing", "extortion", "espionage", "propaganda", "terrorism",
    "government_leaks", "c2_panels", "ddos", "apt",
]

VALID_NETWORK_TYPES = ["clearnet", "i2p", "onion", "invalid"]

# --- extension families (html_parse_manager.py:58-61) ---
ARCHIVE_EXTENSIONS = ['.zip', '.rar', '.tar', '.gz', '.7z', '.bz2', '.xz',
                      '.tgz', '.tbz2', '.tar.gz', '.tar.bz2']
IMAGE_EXTENSIONS = ['.jpg', '.jpeg', '.png', '.gif', '.bmp', '.webp', '.svg',
                    '.tiff']
VIDEO_EXTENSIONS = ['.mp4', '.avi', '.mov', '.wmv', '.flv', '.mkv', '.webm']
DOCUMENT_EXTENSIONS = ['.pdf', '.doc', '.docx', '.ppt', '.pptx', '.xls',
                       '.xlsx', '.txt']

# --- frontier scheduling (crawl_model.py:73,85 — CELERY_WORKER_COUNT) ---
WAVE_HOST_BUDGET = 8           # hosts dispatched per frontier round

# --- engine-side scale knobs (not reference policy) ---
POLITENESS_BUCKETS = 256       # pmod(xxhash64(host_key), B) fetch partitioning
BLOOM_SHARDS = 64              # URL-seen Bloom shard count
BLOOM_BITS_PER_SHARD = 1 << 20  # 128 KiB/shard bitmap at local scale
BLOOM_NUM_HASHES = 5
BLOOM_BROADCAST_MAX_BYTES = 1 << 26   # 64 MB: above this the filter is not
                                      # broadcast (flag-all-maybe fallback →
                                      # exact anti-join)
# Sizing at 10^10 keys: slots_total ~= keys/0.95 -> ~2^34 slots = ~21 GB
# of fingerprint tables; keep shards at 128 KiB-16 MB each and scale
# CUCKOO_SHARDS (e.g. 2^12 shards x 2^19 buckets x 4 slots ~= 2^33 slots
# per ~4 GB tier). The shard-routed build/probe never holds more than one
# shard per task, so only per-shard size matters for executor memory.
CUCKOO_SHARDS = 64              # URL-seen cuckoo shard count (power of two)
CUCKOO_BUCKETS_PER_SHARD = 1 << 14   # x4 slots x2 bytes = 128 KiB/shard
CUCKOO_SLOTS = 4                # fingerprints per bucket (Fan et al. 2014)
CUCKOO_MAX_KICKS = 500          # eviction chain bound before the stash
CUCKOO_STASH = 16               # per-shard overflow stash entries
