/* _ckernel: compiled hot path of the boilerpipe kernel.
 *
 * A C port of the SAME semantics as the pure-Python modules (which are the
 * executable spec, kept as the fallback path):
 *   - htmltok.py   (x/net/html Tokenizer port)      -> the tag/text scanner
 *   - unescape.py  (escape.go unescape port)        -> go_unescape
 *   - handler.py   (content_handler.go port)        -> ContentHandler
 *   - document.py parse_to_handler (boilerpipe.go:108-158) -> parse loop
 *
 * Everything data-driven is injected from Python via init_tables() so the
 * Unicode classes (kernel/_unicode_classes.py), the entity table
 * (html.entities.html5), the tag-action map and the atom set are shared
 * with the pure path by construction.  Gate: tests/test_ckernel_parity.py
 * (golden 7/7 bytewise through BOTH paths + corpus/fuzz differentials).
 *
 * The per-document entries take a Python str and scan a UCS4 copy of
 * it; extract_batch decodes each page's UTF-8 bytes from the Arrow buffer
 * into one UCS4 buffer that serves the whole batch, escaping each byte
 * outside a well-formed sequence to U+DC00+byte as surrogateescape does.
 * Those lone surrogates pass through and count 1 byte in the byte-length
 * gates, matching the Python path's encode("utf-8","surrogateescape")
 * arithmetic.
 *
 * How a text slice flows, and where it is copied: normal text is read as
 * it is delivered (text_run): one loop scans for the markup, collapses
 * spaces straight into text_buf (copy 1) and keeps the block's token
 * counts, so flush_block has them ready.  handler.py's token buffer is
 * text_buf plus the anchor markers; the markers are kept as offsets into
 * text_buf, and the token buffer is built (h->tokens) only for a
 * <title> that holds markers and for a block that holds U+2063, which is
 * counted through tokenize().  A slice with a '&' is delivered from the
 * '&' on the way raw text is: newline conversion and unescaping each copy
 * it once, only when needed.  The block keeps its own trimmed copy of
 * text_buf (copy 2), in a block taken from the handler's pool.  Content()
 * is written once, escaped, into the result: a str of the right kind, or
 * UTF-8 in the batch's content column.  The joined text is never built.
 * F2 normalizes a block text into scratch only when it is short enough to
 * equal a title candidate.
 *
 * Exposed:
 *   init_tables(cfg: dict)      -- must be called once before the others
 *   parse(html) -> (title, blocks, ld_json, datetimes)   raw, unfiltered
 *   extract(html, resolve) -> (title, blocks, datetimes, merged)
 *   extract_content(html, resolve)
 *       -> (title, content, n_blocks, n_content, datetimes, merged)
 *   extract_batch(n, offset, validity, offsets, data, resolve)
 *       -> (title, author, date, content, n_blocks, n_content, parse_error)
 *   blocks: list[(text, num_words, num_linked_words,
 *                 num_words_in_wrapped_lines, num_wrapped_lines,
 *                 offset_start, offset_end, tag_level, is_content,
 *                 ((label, count), ...))]
 *
 * extract/extract_content run the 12-filter Article pipeline in C.  The
 * title F2 matches is the ld+json headline when the page has one, and
 * only Python merges ld+json, so on a page with ld+json (and only there)
 * the kernel calls resolve(title, ld_json) -> (filter_title: str, merged)
 * once, between parsing and filtering, and returns merged unchanged as
 * the last item (None when resolve was not called).  An exception from
 * resolve, or a result other than a (str, object) tuple, propagates
 * (TypeError for the latter) after the document's state is freed.
 *
 * extract_batch reads an Arrow binary or string array (its validity
 * bitmap or None, int32 offsets and data buffers, and the array's row
 * offset) and returns the output columns as buffers: each string column
 * as (null_count, validity or None, int32 offsets, UTF-8 data), the date
 * column as (null_count, validity or None, int64 microseconds), and the
 * two counts as int32 values.  Its resolver has its own contract, see
 * extract_row.  A page whose extraction raises an Exception is a row
 * with only parse_error set, f"{type(e).__name__}: {e}"; any other
 * exception ends the batch.  On a page that was not valid UTF-8 the
 * title, author and content are scrubbed like str.encode("utf-8",
 * "surrogateescape").decode("utf-8", "replace"); a lone surrogate that
 * no byte escape explains (a JSON escape in ld+json) is written as
 * U+FFFD, since Arrow strings are UTF-8.
 */

#define PY_SSIZE_T_CLEAN
#include <Python.h>
#include <stdint.h>
#include <string.h>

typedef uint32_t u32;

/* ------------------------------------------------------------------ */
/* growable UCS4 buffer                                                */
/* ------------------------------------------------------------------ */

typedef struct {
    u32 *p;
    Py_ssize_t len, cap;
} Buf;

static int buf_reserve(Buf *b, Py_ssize_t need)
{
    if (b->len + need <= b->cap)
        return 0;
    Py_ssize_t ncap = b->cap ? b->cap : 64;
    while (ncap < b->len + need)
        ncap *= 2;
    u32 *np = (u32 *)PyMem_Realloc(b->p, (size_t)ncap * sizeof(u32));
    if (!np) {
        PyErr_NoMemory();
        return -1;
    }
    b->p = np;
    b->cap = ncap;
    return 0;
}

static inline int buf_push(Buf *b, u32 c)
{
    if (b->len >= b->cap && buf_reserve(b, 1) < 0)
        return -1;
    b->p[b->len++] = c;
    return 0;
}

static inline int buf_extend(Buf *b, const u32 *src, Py_ssize_t n)
{
    if (n <= 0)
        return 0;
    if (buf_reserve(b, n) < 0)
        return -1;
    memcpy(b->p + b->len, src, (size_t)n * sizeof(u32));
    b->len += n;
    return 0;
}

static void buf_free(Buf *b)
{
    PyMem_Free(b->p);
    b->p = NULL;
    b->len = b->cap = 0;
}

typedef struct {
    char buf[64]; /* ascii-lowered name (valid when ascii && len<64) */
    Py_ssize_t len;
    int ascii;
} Name;


/* ------------------------------------------------------------------ */
/* injected tables                                                     */
/* ------------------------------------------------------------------ */

#define CP_MAX 0x110000

static unsigned char *g_word_bits;   /* \p{L}\p{Nd}\p{Nl}\p{No}  (is_word) */
static unsigned char *g_tokw_bits;   /* [\p{L}0-9_] (tokenize word runs)   */
static unsigned char *g_space_bits;  /* GO_SPACE (Go unicode.IsSpace)       */
static PyObject *g_entities;         /* html.entities.html5 dict            */
static int g_ready;

#define INVIS 0x2063u
/* the private-use char inside the anchor markers "$\ue00a<" and
 * ">\ue00a$" (handler.py ANCHOR_TEXT_START/END): text typed "$<" is no
 * marker */
#define ANCHOR_MARK 0xE00Au

/* Char classes, one byte per char: the per-character loops answer every
 * test on an ASCII or BMP char with one load, before the Unicode bit
 * tables */
#define CL_SPACE 1 /* GO_SPACE */
#define CL_TOKW 2  /* [\p{L}0-9_] */
#define CL_WORD 4  /* \p{L}\p{Nd}\p{Nl}\p{No} */
#define CL_PUNCT 8 /* handler.py _TOKEN_PUNCT */
#define CL_TPUNCT 16 /* filters.py _RE_TITLE_PUNCT: ?!.-: */
#define CL_APOS 32   /* ' (dropped by _normalize_title_text) */
#define CL_STOP 64   /* '<' and '&': where a text run may stop */
#define CL_INVIS 128 /* U+2063, which makes a block take tokenize() */
static unsigned char g_ascii_cls[128];
static unsigned char *g_bmp_cls; /* CL_SPACE|CL_TOKW|CL_WORD|CL_INVIS */
static const char TOKEN_PUNCT[] = "\"'.,!@-:;$?()/";

static inline int bit_test(const unsigned char *bits, u32 c)
{
    return c < CP_MAX && (bits[c >> 3] >> (c & 7)) & 1;
}

static inline int char_cls(u32 c)
{
    if (c < 128)
        return g_ascii_cls[c];
    if (c < 0x10000)
        return g_bmp_cls[c];
    return (bit_test(g_space_bits, c) ? CL_SPACE : 0) |
           (bit_test(g_tokw_bits, c) ? CL_TOKW : 0) |
           (bit_test(g_word_bits, c) ? CL_WORD : 0);
}

static inline int is_word_char(u32 c)
{
    return char_cls(c) & CL_WORD;
}

static inline int is_tok_word(u32 c)
{
    return char_cls(c) & CL_TOKW;
}

static inline int is_go_space(u32 c)
{
    return char_cls(c) & CL_SPACE;
}

/* token punctuation set — handler.py:66 _TOKEN_PUNCT (all ASCII) */
static inline int is_tok_punct(u32 c)
{
    return c < 128 && (g_ascii_cls[c] & CL_PUNCT);
}

/* tag property table: open addressing on lowercase-ASCII names */

#define PROP_ATOM 1
#define PROP_RAW 2
#define PROP_RCDATA 4
#define PROP_SBSC 8     /* SHOULD_BE_SELF_CLOSING */
#define PROP_ATTRTAG 16 /* attrs extracted (script/time) */

/* tag action codes — handler.py:122-129 */
#define TA_NONE 0
#define TA_IGNORABLE 1
#define TA_ANCHOR 2
#define TA_BODY 3
#define TA_INLINE_WS 4
#define TA_INLINE_NO_WS 5
#define TA_BLOCK_LABEL 6
#define TA_VOID 7
#define TA_TIME 8

typedef struct {
    char *name; /* lowercase ascii, NUL-terminated */
    int len;
    int props;
    int action;
    int atom_id; /* >0 when PROP_ATOM */
    int labels[2];
    int nlabels;
} TagEnt;

#define TAG_HASH_SIZE 2048 /* > 2x entries, power of two */
static TagEnt g_tags[TAG_HASH_SIZE];
static int g_atom_count;

static unsigned tag_hash(const char *s, int n)
{
    unsigned h = 2166136261u;
    for (int i = 0; i < n; i++) {
        h ^= (unsigned char)s[i];
        h *= 16777619u;
    }
    return h;
}

static TagEnt *tag_slot(const char *s, int n)
{
    unsigned idx = tag_hash(s, n) & (TAG_HASH_SIZE - 1);
    for (;;) {
        TagEnt *e = &g_tags[idx];
        if (!e->name)
            return e; /* empty slot (insert point / not found) */
        if (e->len == n && memcmp(e->name, s, (size_t)n) == 0)
            return e;
        idx = (idx + 1) & (TAG_HASH_SIZE - 1);
    }
}

static int tag_insert(const char *s, Py_ssize_t n)
{
    /* returns index into g_tags (creating the entry when absent) */
    TagEnt *e = tag_slot(s, (int)n);
    if (!e->name) {
        e->name = (char *)PyMem_Malloc((size_t)n + 1);
        if (!e->name) {
            PyErr_NoMemory();
            return -1;
        }
        memcpy(e->name, s, (size_t)n);
        e->name[n] = 0;
        e->len = (int)n;
    }
    return (int)(e - g_tags);
}

/* ------------------------------------------------------------------ */
/* go_unescape — unescape.py port (escape.go semantics)                */
/* ------------------------------------------------------------------ */

/* escape.go replacementTable (unescape.py:28-34), '' slots keep the cp */
static const u32 REPLACEMENT_TABLE[32] = {
    0x20AC, 0x81, 0x201A, 0x0192, 0x201E, 0x2026, 0x2020, 0x2021,
    0x02C6, 0x2030, 0x0160, 0x2039, 0x0152, 0x8D, 0x017D, 0x8F,
    0x90, 0x2018, 0x2019, 0x201C, 0x201D, 0x2022, 0x2013, 0x2014,
    0x02DC, 0x2122, 0x0161, 0x203A, 0x0153, 0x9D, 0x017E, 0x0178,
};

#define LONGEST_NO_SEMI 6

/* append the UCS4 chars of a python str `rep` to out */
static int append_pystr(Buf *out, PyObject *rep)
{
    Py_ssize_t m = PyUnicode_GET_LENGTH(rep);
    for (Py_ssize_t t = 0; t < m; t++)
        if (buf_push(out, (u32)PyUnicode_READ_CHAR(rep, t)) < 0)
            return -1;
    return 0;
}

/* entity lookup: name chars are ASCII alnum (+ optional ';') */
static PyObject *entity_get(const u32 *s, Py_ssize_t n)
{
    char tmp[40];
    if (n <= 0 || n > 39)
        return NULL;
    for (Py_ssize_t i = 0; i < n; i++)
        tmp[i] = (char)s[i];
    PyObject *key = PyUnicode_FromStringAndSize(tmp, n);
    if (!key)
        return NULL; /* propagates MemoryError */
    PyObject *rep = PyDict_GetItem(g_entities, key); /* borrowed */
    Py_DECREF(key);
    return rep;
}

/* unescape.py:39-115 _entity: parse one reference at s[src]=='&'.
 * Appends the replacement to out; returns next src, or -1 on error. */
static Py_ssize_t entity_one(const u32 *s, Py_ssize_t src, Py_ssize_t n,
                             int attribute, Buf *out)
{
    if (src + 1 >= n)
        return buf_push(out, '&') < 0 ? -1 : src + 1;
    u32 c = s[src + 1];

    if (c == '#') {
        if (n - src <= 3)
            return buf_push(out, '&') < 0 ? -1 : src + 1;
        Py_ssize_t i = 2;
        int hexmode = 0;
        if (s[src + 2] == 'x' || s[src + 2] == 'X') {
            hexmode = 1;
            i = 3;
        }
        uint32_t x = 0;
        while (src + i < n) {
            c = s[src + i];
            i++;
            if (hexmode) {
                if (c >= '0' && c <= '9') {
                    x = (16 * x + c - 48); /* uint32 wraps mod 2^32 */
                    continue;
                }
                if (c >= 'a' && c <= 'f') {
                    x = (16 * x + c - 87);
                    continue;
                }
                if (c >= 'A' && c <= 'F') {
                    x = (16 * x + c - 55);
                    continue;
                }
            } else if (c >= '0' && c <= '9') {
                x = (10 * x + c - 48);
                continue;
            }
            if (c != ';')
                i--;
            break;
        }
        if (i <= 3) /* no digits matched */
            return buf_push(out, '&') < 0 ? -1 : src + 1;
        if (x >= 0x80000000u) /* Go rune (int32) went negative */
            x = 0xFFFD;
        else if (x >= 0x80 && x <= 0x9F)
            x = REPLACEMENT_TABLE[x - 0x80];
        else if (x == 0 || (x >= 0xD800 && x <= 0xDFFF) || x > 0x10FFFF)
            x = 0xFFFD;
        return buf_push(out, x) < 0 ? -1 : src + i;
    }

    /* named reference: consume [a-zA-Z0-9]* and an optional ';' */
    Py_ssize_t i = 1;
    while (src + i < n) {
        c = s[src + i];
        i++;
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
            (c >= '0' && c <= '9'))
            continue;
        if (c != ';')
            i--;
        break;
    }
    const u32 *name = s + src + 1;
    Py_ssize_t name_len = i - 1;
    if (name_len == 0) {
        /* fall through to literal copy */
    } else if (attribute && name[name_len - 1] != ';' && src + i < n &&
               s[src + i] == '=') {
        /* attribute quirk: &name= stays literal */
    } else {
        PyObject *rep = entity_get(name, name_len);
        if (!rep && PyErr_Occurred())
            return -1;
        if (rep) {
            if (append_pystr(out, rep) < 0)
                return -1;
            return src + i;
        }
        if (!attribute) {
            Py_ssize_t max_len = name_len - 1;
            if (max_len > LONGEST_NO_SEMI)
                max_len = LONGEST_NO_SEMI;
            for (Py_ssize_t j = max_len; j > 1; j--) {
                rep = entity_get(name, j);
                if (!rep && PyErr_Occurred())
                    return -1;
                if (rep) {
                    if (append_pystr(out, rep) < 0)
                        return -1;
                    return src + j + 1;
                }
            }
        }
    }
    if (buf_extend(out, s + src, i) < 0)
        return -1;
    return src + i;
}

/* unescape.py:118-134 go_unescape: returns 0 ok / -1 error.
 * Appends the unescaped text to out (does not clear out). */
static int go_unescape_u32(const u32 *s, Py_ssize_t n, int attribute,
                           Buf *out)
{
    Py_ssize_t i = 0;
    while (i < n && s[i] != '&')
        i++;
    if (buf_extend(out, s, i) < 0)
        return -1;
    while (i < n) {
        Py_ssize_t j = entity_one(s, i, n, attribute, out);
        if (j < 0)
            return -1;
        i = j;
        Py_ssize_t k = i;
        while (k < n && s[k] != '&')
            k++;
        if (buf_extend(out, s + i, k - i) < 0)
            return -1;
        i = k;
    }
    return 0;
}

/* ------------------------------------------------------------------ */
/* text preprocessing: _convert_newlines (+ optional unescape / NUL)   */
/* ------------------------------------------------------------------ */

/* htmltok.py:88-91: \r\n -> \n, \r -> \n.  Appends into out. */
static int convert_newlines(const u32 *s, Py_ssize_t n, Buf *out)
{
    if (buf_reserve(out, n) < 0)
        return -1;
    for (Py_ssize_t i = 0; i < n; i++) {
        u32 c = s[i];
        if (c == '\r') {
            if (i + 1 < n && s[i + 1] == '\n')
                i++;
            c = '\n';
        }
        out->p[out->len++] = c;
    }
    return 0;
}

/* ------------------------------------------------------------------ */
/* TextBlock — textblock.py port (C-side blocks so the filter chain    */
/* can run without crossing the C/Python boundary per block)           */
/* ------------------------------------------------------------------ */

/* label enum values (textblock.py:15-23): 0..8; label_map becomes a
 * fixed count array (filters only use membership and merged counts —
 * dict insertion order is never observable in the pipeline) */
#define N_LABELS 9
#define LBL_INDICATES_END_OF_TEXT 0
#define LBL_MIGHT_BE_CONTENT 1
#define LBL_VERY_LIKELY_CONTENT 2
#define LBL_TITLE 3
#define LBL_LIST 4
#define LBL_HEADING 5

typedef struct {
    u32 *text;
    Py_ssize_t text_len, text_cap; /* text_cap: u32 slots allocated */
    long num_words, num_linked_words, nwiwl, nwl;
    long off_start, off_end;
    int tag_level;
    int is_content;
    long labels[N_LABELS];
} CBlock;

static void cblock_free(CBlock *b)
{
    if (b) {
        PyMem_Free(b->text);
        PyMem_Free(b);
    }
}

/* textblock.py:73-87 merge_next. Appends b's text to a's in place; a's
 * buffer doubles as it grows, so a run of k merges copies O(total) text,
 * not O(k * total). On failure a is unchanged. */
static int cblock_merge_next(CBlock *a, CBlock *b)
{
    Py_ssize_t need = a->text_len + 1 + b->text_len;
    if (need > a->text_cap) {
        Py_ssize_t nc = a->text_cap * 2;
        if (nc < need)
            nc = need;
        u32 *nt = (u32 *)PyMem_Realloc(a->text, (size_t)nc * sizeof(u32));
        if (!nt) {
            PyErr_NoMemory();
            return -1;
        }
        a->text = nt;
        a->text_cap = nc;
    }
    a->text[a->text_len] = '\n';
    memcpy(a->text + a->text_len + 1, b->text,
           (size_t)b->text_len * sizeof(u32));
    a->text_len = need;
    if (b->off_start < a->off_start)
        a->off_start = b->off_start;
    if (b->off_end > a->off_end)
        a->off_end = b->off_end;
    a->num_words += b->num_words;
    a->num_linked_words += b->num_linked_words;
    a->nwiwl += b->nwiwl;
    a->nwl += b->nwl;
    a->is_content = a->is_content || b->is_content;
    for (int i = 0; i < N_LABELS; i++)
        a->labels[i] += b->labels[i];
    if (b->tag_level < a->tag_level)
        a->tag_level = b->tag_level;
    return 0;
}

static inline double cb_link_density(const CBlock *b)
{
    if (b->num_words == 0)
        return 0.0;
    return (double)b->num_linked_words / (double)b->num_words;
}

/* ------------------------------------------------------------------ */
/* ContentHandler — handler.py port                                    */
/* ------------------------------------------------------------------ */

/* flush_block's token counts (handler.py:397-427), kept as the block's
 * text arrives.  Without U+2063, tokenize() splits the token buffer at
 * ' ' and where a word run meets a char outside _TOKEN_PUNCT, so each
 * char is looked at once.  head keeps a token's first three chars for
 * the anchor-marker test. */
typedef struct {
    long num_words, num_linked_words, num_wrapped_lines, num_tokens;
    long num_words_current_line;
    long current_line_length;
    long done;      /* tokens ended, anchor markers included */
    Py_ssize_t len; /* chars of the token being read, 0 between tokens */
    int in_anchor, has_word, prev_tokw, prev_punct;
    u32 head[3];
} TokCount;

typedef struct {
    Buf text_buf;
    Buf scratch; /* tokenize output / collapsed text reuse */
    Buf tokens;  /* handler.py's token buffer, rebuilt when it is needed */
    Buf title;   /* the <title> text, when has_title */
    int has_title;
    /* the anchor markers of handler.py's token buffer, as offsets into
     * text_buf: (offset << 1) | is_end_marker */
    Py_ssize_t *marks;
    Py_ssize_t nmarks, cap_marks;
    TokCount tc;   /* the counts of text_buf and its markers so far */
    int tok_invis; /* text_buf holds a U+2063: count through tokenize() */
    int depth_body, depth_anchor, depth_ignoreable, depth_tag;
    int depth_block_tag;
    int last_was_whitespace;
    int flush;
    int in_anchor_text;
    int offset_blocks;
    int *label_stack;
    Py_ssize_t label_len, label_cap;
    int *atom_stack;
    Py_ssize_t atom_len, atom_cap;
    char last_start_tag[32];
    int last_start_len;
    CBlock **blocks;
    Py_ssize_t nblocks, cap_blocks;
    CBlock **pool; /* released blocks, their text buffers kept for reuse */
    Py_ssize_t npool, cap_pool;
    PyObject *ld_json;   /* list of str, NULL until the first */
    PyObject *datetimes; /* list of str, NULL until the first */
    int in_ld_json;
} Handler;

static inline void tc_start(TokCount *tc, int in_anchor)
{
    memset(tc, 0, sizeof(*tc));
    tc->current_line_length = -1; /* don't count the first space */
    tc->in_anchor = in_anchor;
}

/* one non-marker token of L chars */
static inline void tc_count(TokCount *tc, Py_ssize_t L, int has_word)
{
    tc->num_tokens++;
    if (!has_word)
        return;
    tc->num_words++;
    tc->num_words_current_line++;
    if (tc->in_anchor)
        tc->num_linked_words++;
    tc->current_line_length += L + 1;
    if (tc->current_line_length > 80) { /* max line length */
        tc->num_wrapped_lines++;
        tc->current_line_length = L;
        tc->num_words_current_line = 1;
    }
}

/* end the token being read, if any */
static inline void tc_end(TokCount *tc)
{
    Py_ssize_t L = tc->len;
    int has_word = tc->has_word;
    if (!L)
        return;
    tc->len = 0;
    tc->has_word = 0;
    tc->done++;
    if (L == 3 && tc->head[1] == ANCHOR_MARK) {
        if (tc->head[0] == '$' && tc->head[2] == '<') {
            tc->in_anchor = 1;
            return;
        }
        if (tc->head[0] == '>' && tc->head[2] == '$') {
            tc->in_anchor = 0;
            return;
        }
    }
    tc_count(tc, L, has_word);
}

/* one non-space char c of class cls */
static inline void tc_char(TokCount *tc, u32 c, int cls)
{
    int tokw = (cls & CL_TOKW) != 0;
    if (tc->len && tokw != tc->prev_tokw &&
        !(tokw ? tc->prev_punct : (cls & CL_PUNCT)))
        tc_end(tc);
    if (tc->len < 3)
        tc->head[tc->len] = c;
    tc->len++;
    tc->has_word |= cls & CL_WORD;
    tc->prev_tokw = tokw;
    tc->prev_punct = cls & CL_PUNCT;
}

static void cblock_release(Handler *h, CBlock *cb);

/* the block's buffers emptied */
static void block_reset(Handler *h)
{
    h->text_buf.len = 0;
    h->nmarks = 0;
    h->tok_invis = 0;
    tc_start(&h->tc, h->in_anchor_text);
}

/* a fresh document: the buffers and the block pool are kept */
static void h_start(Handler *h)
{
    h->has_title = 0;
    h->depth_body = h->depth_anchor = h->depth_ignoreable = 0;
    h->depth_tag = 0;
    h->depth_block_tag = -1;
    h->last_was_whitespace = h->flush = h->in_anchor_text = 0;
    h->offset_blocks = 0;
    h->label_len = h->atom_len = 0;
    h->last_start_len = 0;
    while (h->nblocks)
        cblock_release(h, h->blocks[--h->nblocks]);
    Py_CLEAR(h->ld_json);
    Py_CLEAR(h->datetimes);
    h->in_ld_json = 0;
    block_reset(h);
}

static void h_init(Handler *h)
{
    memset(h, 0, sizeof(*h));
    h_start(h);
}

static void h_free(Handler *h)
{
    buf_free(&h->text_buf);
    buf_free(&h->scratch);
    buf_free(&h->tokens);
    buf_free(&h->title);
    PyMem_Free(h->marks);
    PyMem_Free(h->label_stack);
    PyMem_Free(h->atom_stack);
    for (Py_ssize_t i = 0; i < h->nblocks; i++)
        cblock_free(h->blocks[i]);
    PyMem_Free(h->blocks);
    for (Py_ssize_t i = 0; i < h->npool; i++)
        cblock_free(h->pool[i]);
    PyMem_Free(h->pool);
    Py_XDECREF(h->ld_json);
    Py_XDECREF(h->datetimes);
}

/* a block with room for n chars, from the pool when it has one */
static CBlock *cblock_new(Handler *h, Py_ssize_t n)
{
    CBlock *cb;
    if (h->npool) {
        cb = h->pool[--h->npool];
    } else {
        cb = (CBlock *)PyMem_Calloc(1, sizeof(CBlock));
        if (!cb) {
            PyErr_NoMemory();
            return NULL;
        }
    }
    u32 *text = cb->text;
    Py_ssize_t cap = cb->text_cap;
    if (!text || cap < n) {
        PyMem_Free(text);
        cap = n ? n : 1;
        text = (u32 *)PyMem_Malloc((size_t)cap * sizeof(u32));
        if (!text) {
            PyMem_Free(cb);
            PyErr_NoMemory();
            return NULL;
        }
    }
    memset(cb, 0, sizeof(*cb));
    cb->text = text;
    cb->text_cap = cap;
    return cb;
}

static void cblock_release(Handler *h, CBlock *cb)
{
    if (h->npool >= h->cap_pool) {
        Py_ssize_t nc = h->cap_pool ? h->cap_pool * 2 : 64;
        CBlock **np = (CBlock **)PyMem_Realloc(h->pool,
                                               (size_t)nc * sizeof(CBlock *));
        if (!np) {
            cblock_free(cb);
            return;
        }
        h->pool = np;
        h->cap_pool = nc;
    }
    h->pool[h->npool++] = cb;
}

static int ipush(int **arr, Py_ssize_t *len, Py_ssize_t *cap, int v)
{
    if (*len >= *cap) {
        Py_ssize_t nc = *cap ? *cap * 2 : 16;
        int *np = (int *)PyMem_Realloc(*arr, (size_t)nc * sizeof(int));
        if (!np) {
            PyErr_NoMemory();
            return -1;
        }
        *arr = np;
        *cap = nc;
    }
    (*arr)[(*len)++] = v;
    return 0;
}

/* go_trim_space bounds: [*a, *b) trimmed of GO_SPACE */
static void trim_go_space(const u32 *s, Py_ssize_t *a, Py_ssize_t *b)
{
    while (*a < *b && is_go_space(s[*a]))
        (*a)++;
    while (*b > *a && is_go_space(s[*b - 1]))
        (*b)--;
}


/* handler.py _junction_slow: the original marker-machine regexes over a
 * junction piece with word-adjacent edge markers attached.  Appends the
 * processed piece to out.  NOT_WORD_BOUNDARY = INVIS*(punct)INVIS* -> punct;
 * then INVIS+ -> ' '. */
static int junction_slow(const u32 *p, Py_ssize_t n, int lead, int trail,
                         Buf *out)
{
    /* build decorated piece in a small stack/heap buffer */
    Py_ssize_t dn = n + (lead ? 1 : 0) + (trail ? 1 : 0);
    u32 small[64];
    u32 *d = small;
    if (dn > 64) {
        d = (u32 *)PyMem_Malloc((size_t)dn * sizeof(u32));
        if (!d) {
            PyErr_NoMemory();
            return -1;
        }
    }
    Py_ssize_t m = 0;
    if (lead)
        d[m++] = INVIS;
    memcpy(d + m, p, (size_t)n * sizeof(u32));
    m += n;
    if (trail)
        d[m++] = INVIS;

    /* pass 1+2 fused walk */
    int rc = 0;
    Py_ssize_t i = 0;
    while (i < m) {
        u32 c = d[i];
        if (c == INVIS) {
            Py_ssize_t j = i;
            while (j < m && d[j] == INVIS)
                j++;
            if (j < m && is_tok_punct(d[j])) {
                /* INVIS*(punct)INVIS* -> punct */
                if (buf_push(out, d[j]) < 0) { rc = -1; break; }
                j++;
                while (j < m && d[j] == INVIS)
                    j++;
                i = j;
            } else {
                /* surviving marker run -> one space */
                if (buf_push(out, ' ') < 0) { rc = -1; break; }
                i = j;
            }
        } else if (is_tok_punct(c)) {
            /* zero-leading-marker match still consumes a trailing run */
            if (buf_push(out, c) < 0) { rc = -1; break; }
            i++;
            while (i < m && d[i] == INVIS)
                i++;
        } else {
            if (buf_push(out, c) < 0) { rc = -1; break; }
            i++;
        }
    }
    if (d != small)
        PyMem_Free(d);
    return rc;
}

static int slice_has_invis(const u32 *s, Py_ssize_t a, Py_ssize_t b)
{
    for (Py_ssize_t i = a; i < b; i++)
        if (s[i] == INVIS)
            return 1;
    return 0;
}

/* handler.py:80-170 tokenize(): write the junction-walk result into
 * h->scratch (cleared first).  The caller then splits on ' '. */
static int tokenize_to_scratch(Handler *h, const u32 *s0, Py_ssize_t n0)
{
    Buf *out = &h->scratch;
    out->len = 0;
    Py_ssize_t a = 0, b = n0;
    trim_go_space(s0, &a, &b);
    const u32 *s = s0 + a;
    Py_ssize_t n = b - a;

    /* find first word run */
    Py_ssize_t w0 = 0;
    while (w0 < n && !is_tok_word(s[w0]))
        w0++;
    if (w0 == n) {
        /* no words: punct-marker + marker-run passes apply to literal
         * U+2063, then the space split (handler.py np==1 branch) */
        if (slice_has_invis(s, 0, n))
            return junction_slow(s, n, 0, 0, out);
        return buf_extend(out, s, n);
    }

    /* leading piece s[0:w0] (trailing marker only) */
    if (slice_has_invis(s, 0, w0)) {
        if (junction_slow(s, w0, 0, 1, out) < 0)
            return -1;
    } else {
        if (buf_extend(out, s, w0) < 0)
            return -1;
        if (!(w0 > 0 && is_tok_punct(s[w0 - 1])))
            if (buf_push(out, ' ') < 0)
                return -1;
    }

    Py_ssize_t i = w0;
    for (;;) {
        /* word run [i, j) */
        Py_ssize_t j = i;
        while (j < n && is_tok_word(s[j]))
            j++;
        if (buf_extend(out, s + i, j - i) < 0)
            return -1;
        if (j >= n)
            break; /* text ends with a word: trailing piece empty */
        /* junction piece [j, k): up to next word run or end */
        Py_ssize_t k = j;
        while (k < n && !is_tok_word(s[k]))
            k++;
        int is_last = (k >= n);
        if (slice_has_invis(s, j, k)) {
            if (junction_slow(s + j, k - j, 1, is_last ? 0 : 1, out) < 0)
                return -1;
        } else if (is_last) {
            /* trailing piece: only its leading edge touches a marker */
            if (!(k > j && is_tok_punct(s[j])))
                if (buf_push(out, ' ') < 0)
                    return -1;
            if (buf_extend(out, s + j, k - j) < 0)
                return -1;
        } else {
            /* interior junction: both edges touch markers */
            if (!is_tok_punct(s[j]))
                if (buf_push(out, ' ') < 0)
                    return -1;
            if (buf_extend(out, s + j, k - j) < 0)
                return -1;
            if (!is_tok_punct(s[k - 1]))
                if (buf_push(out, ' ') < 0)
                    return -1;
        }
        if (is_last)
            break;
        i = k;
    }
    return 0;
}

/* utf-8 byte length (filters.py:69-73): lone surrogateescape surrogates
 * (DC80-DCFF) round-trip to ONE raw byte. */
static Py_ssize_t utf8_byte_len(const u32 *s, Py_ssize_t n)
{
    Py_ssize_t b = 0;
    for (Py_ssize_t i = 0; i < n; i++) {
        u32 c = s[i];
        if (c < 0x80)
            b += 1;
        else if (c < 0x800)
            b += 2;
        else if (c >= 0xDC80 && c <= 0xDCFF)
            b += 1; /* surrogateescape byte */
        else if (c < 0x10000)
            b += 3;
        else
            b += 4;
    }
    return b;
}

static PyObject *str_from_u32(const u32 *s, Py_ssize_t n)
{
    return PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND, s, n);
}

/* tokenize() into h->scratch, then its strip + split(' ') */
static int count_tokens_split(Handler *h, const u32 *s, Py_ssize_t n,
                              TokCount *tc)
{
    if (tokenize_to_scratch(h, s, n) < 0)
        return -1;
    Py_ssize_t a = 0, b = h->scratch.len;
    trim_go_space(h->scratch.p, &a, &b);
    const u32 *tk = h->scratch.p;
    if (a >= b) {
        tc->num_tokens = 1; /* tokenize returned [""] */
        return 0;
    }
    Py_ssize_t i = a;
    while (i < b) {
        while (i < b && tk[i] == ' ')
            i++;
        if (i >= b)
            break;
        Py_ssize_t j = i;
        int has_word = 0;
        while (j < b && tk[j] != ' ')
            has_word |= is_word_char(tk[j++]);
        Py_ssize_t L = j - i;
        if (L == 3 && tk[i + 1] == ANCHOR_MARK &&
            ((tk[i] == '$' && tk[i + 2] == '<') ||
             (tk[i] == '>' && tk[i + 2] == '$')))
            tc->in_anchor = tk[i] == '$';
        else
            tc_count(tc, L, has_word);
        i = j;
    }
    return 0;
}

/* handler.py's token buffer into h->tokens: text_buf with the anchor
 * markers "$< " and ">$ " put back at their offsets */
static int token_view(Handler *h)
{
    static const u32 MARKER[2][4] = {{'$', ANCHOR_MARK, '<', ' '},
                                     {'>', ANCHOR_MARK, '$', ' '}};
    Buf *out = &h->tokens;
    out->len = 0;
    if (buf_reserve(out, h->text_buf.len + 4 * h->nmarks) < 0)
        return -1;
    Py_ssize_t from = 0;
    for (Py_ssize_t m = 0; m < h->nmarks; m++) {
        Py_ssize_t at = h->marks[m] >> 1;
        buf_extend(out, h->text_buf.p + from, at - from);
        buf_extend(out, MARKER[h->marks[m] & 1], 4);
        from = at;
    }
    buf_extend(out, h->text_buf.p + from, h->text_buf.len - from);
    return 0;
}

/* handler.py:364-466 flush_block */
static int flush_block(Handler *h)
{
    Py_ssize_t tn = h->text_buf.len;
    if (tn == 0 && h->nmarks == 0)
        return 0;

    if (h->depth_body == 0) {
        if (h->last_start_len == 5 &&
            memcmp(h->last_start_tag, "title", 5) == 0) {
            const u32 *ts = h->text_buf.p;
            if (h->nmarks) {
                if (token_view(h) < 0)
                    return -1;
                ts = h->tokens.p;
                tn = h->tokens.len;
            }
            Py_ssize_t a = 0, b = tn;
            trim_go_space(ts, &a, &b);
            if (b > a) {
                h->title.len = 0;
                if (buf_extend(&h->title, ts + a, b - a) < 0)
                    return -1;
                h->has_title = 1;
            }
        }
        block_reset(h);
        return 0;
    }

    /* the token buffer's utf-8 length is 1 exactly when it holds one
     * char of one byte (every char takes at least one, a marker three) */
    const u32 *ts = h->text_buf.p;
    if (h->nmarks == 0 && tn == 1 &&
        (ts[0] < 0x80 || (ts[0] >= 0xDC80 && ts[0] <= 0xDCFF)) &&
        h->last_was_whitespace) {
        block_reset(h);
        return 0;
    }

    TokCount tc;
    if (h->tok_invis) {
        if (token_view(h) < 0)
            return -1;
        tc_start(&tc, h->in_anchor_text);
        if (count_tokens_split(h, h->tokens.p, h->tokens.len, &tc) < 0)
            return -1;
    } else {
        tc = h->tc;
        tc_end(&tc);
        if (tc.done == 0)
            tc.num_tokens = 1; /* all spaces: tokenize returned [""] */
    }
    h->in_anchor_text = tc.in_anchor;
    long num_words = tc.num_words, num_linked_words = tc.num_linked_words;
    long num_wrapped_lines = tc.num_wrapped_lines;

    if (tc.num_tokens == 0) {
        /* Go-port quirk: buffers NOT reset (content_handler.go:328-330).
         * Every token so far is a marker, so counting the buffer again
         * from the new in_anchor_text reaches h->tc, except for a token
         * still being read with none ended before it. */
        if (h->tc.done == 0)
            h->tc.in_anchor = tc.in_anchor;
        return 0;
    }

    long num_words_in_wrapped_lines;
    if (num_wrapped_lines == 0) {
        num_words_in_wrapped_lines = num_words;
        num_wrapped_lines = 1;
    } else {
        num_words_in_wrapped_lines = num_words - tc.num_words_current_line;
    }

    Py_ssize_t xa = 0, xb = tn;
    trim_go_space(ts, &xa, &xb);

    if (xb > xa) {
        if (num_words_in_wrapped_lines == 0) {
            num_words_in_wrapped_lines = num_words;
            num_wrapped_lines = 1;
        }
        if (h->nblocks >= h->cap_blocks) {
            Py_ssize_t nc = h->cap_blocks ? h->cap_blocks * 2 : 64;
            CBlock **np = (CBlock **)PyMem_Realloc(
                h->blocks, (size_t)nc * sizeof(CBlock *));
            if (!np) {
                PyErr_NoMemory();
                return -1;
            }
            h->blocks = np;
            h->cap_blocks = nc;
        }
        CBlock *cb = cblock_new(h, xb - xa);
        if (!cb)
            return -1;
        cb->text_len = xb - xa;
        memcpy(cb->text, ts + xa, (size_t)cb->text_len * sizeof(u32));
        cb->num_words = num_words;
        cb->num_linked_words = num_linked_words;
        cb->nwiwl = num_words_in_wrapped_lines;
        cb->nwl = num_wrapped_lines;
        cb->off_start = h->offset_blocks;
        cb->off_end = h->offset_blocks;
        cb->tag_level = h->depth_block_tag;
        /* labelStack.PopAll(): counts only — order is unobservable */
        for (Py_ssize_t t = 0; t < h->label_len; t++) {
            int lv = h->label_stack[t];
            if (lv >= 0 && lv < N_LABELS)
                cb->labels[lv]++;
        }
        h->label_len = 0;
        h->blocks[h->nblocks++] = cb;
        h->offset_blocks++;
    }

    block_reset(h);
    h->depth_block_tag = -1;
    return 0;
}

/* handler.py:356-360 */
static int add_ws_if_necessary(Handler *h)
{
    if (!h->last_was_whitespace) {
        if (buf_push(&h->text_buf, ' ') < 0)
            return -1;
        tc_end(&h->tc);
        h->last_was_whitespace = 1;
    }
    return 0;
}

/* handler.py _action_start/_action_end for <a>: the whitespace, then an
 * anchor marker and a space in the token buffer only */
static int add_anchor_marker(Handler *h, int is_end)
{
    if (add_ws_if_necessary(h) < 0)
        return -1;
    if (h->nmarks >= h->cap_marks) {
        Py_ssize_t nc = h->cap_marks ? h->cap_marks * 2 : 16;
        Py_ssize_t *np = (Py_ssize_t *)PyMem_Realloc(
            h->marks, (size_t)nc * sizeof(Py_ssize_t));
        if (!np) {
            PyErr_NoMemory();
            return -1;
        }
        h->marks = np;
        h->cap_marks = nc;
    }
    h->marks[h->nmarks++] = (h->text_buf.len << 1) | is_end;
    /* the marker is a token of its own: the buffer ends in a space */
    h->tc.done++;
    h->tc.in_anchor = !is_end;
    h->last_was_whitespace = 1;
    return 0;
}

static inline int is_ascii_alpha(u32 c)
{
    return (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z');
}

/* '<' followed by c opens a tag, an end tag or markup */
static inline int opens_markup(u32 c)
{
    return is_ascii_alpha(c) || c == '/' || c == '!' || c == '?';
}

/* handler.py:301-354 text_token's spaceRemover, and the block's token
 * counts, over s[i..end) in one loop.  A GO_SPACE run becomes one ' '
 * unless the last char written was a space, so no char writes more than
 * one: the caller reserved end - i chars of text_buf.  With markup set
 * the loop stops at a '&' or at a '<' that may open markup in s[..n) (a
 * normal-text run, see text_run).  Returns where it stopped. */
static inline Py_ssize_t collapse_count(Handler *h, const u32 *s,
                                        Py_ssize_t i, Py_ssize_t end,
                                        Py_ssize_t n, int markup)
{
    u32 *o = h->text_buf.p;
    Py_ssize_t w = h->text_buf.len;
    int lws = h->last_was_whitespace, cls_or = 0, wrote = 0;
    TokCount tc = h->tc;
    for (; i < end; i++) {
        u32 c = s[i];
        int cls;
        if (c < 128) {
            cls = g_ascii_cls[c];
            if (markup && (cls & CL_STOP) &&
                (c == '&' || (i + 1 < n && opens_markup(s[i + 1]))))
                break;
        } else {
            cls = c < 0x10000 ? g_bmp_cls[c] : char_cls(c);
            cls_or |= cls;
        }
        if (cls & CL_SPACE) {
            if (!lws) {
                o[w++] = ' ';
                lws = 1;
                tc_end(&tc);
            }
        } else {
            o[w++] = c;
            lws = 0;
            wrote = 1;
            tc_char(&tc, c, cls);
            /* the rest of a word run: no token split, no marker.  Word
             * chars are neither space, '<', '&' nor U+2063. */
            while (tc.prev_tokw && i + 1 < end) {
                u32 d = s[i + 1];
                int k = d < 128 ? g_ascii_cls[d]
                        : d < 0x10000 ? g_bmp_cls[d] : 0;
                if (!(k & CL_TOKW))
                    break;
                o[w++] = d;
                if (tc.len < 3)
                    tc.head[tc.len] = d;
                tc.len++;
                tc.has_word |= k & CL_WORD;
                i++;
            }
        }
    }
    if (wrote && h->depth_block_tag == -1)
        h->depth_block_tag = h->depth_tag;
    h->text_buf.len = w;
    h->last_was_whitespace = lws;
    h->tc = tc;
    if (cls_or & CL_INVIS)
        h->tok_invis = 1;
    return i;
}

/* handler.py:301-354 text_token */
static int text_token(Handler *h, const u32 *d, Py_ssize_t n)
{
    if (h->flush) {
        if (flush_block(h) < 0)
            return -1;
        h->flush = 0;
    }
    if (h->depth_ignoreable != 0 || n == 0)
        return 0;
    if (buf_reserve(&h->text_buf, n) < 0)
        return -1;
    collapse_count(h, d, 0, n, n, 0);
    return 0;
}

/* Normal text from s[i] up to a '&', a '<' that may open markup, or the
 * end, read as it is delivered: the scan, text_token's collapse and the
 * token counts are one loop.  text_token is split-invariant (text_token
 * of a then b is text_token of a + b), so the rest of the slice, from a
 * '&' on, can go the unescaping way.  Returns where the run stopped, or
 * -1 on error. */
static Py_ssize_t text_run(Handler *h, const u32 *s, Py_ssize_t i,
                           Py_ssize_t n)
{
    if (i >= n || (s[i] < 128 && (g_ascii_cls[s[i]] & CL_STOP) &&
                   (s[i] == '&' || (i + 1 < n && opens_markup(s[i + 1])))))
        return i; /* an empty run: no text token */
    if (h->flush) {
        if (flush_block(h) < 0)
            return -1;
        h->flush = 0;
    }
    if (h->depth_ignoreable != 0) {
        /* the text is dropped: only the markup matters */
        for (; i < n; i++)
            if (s[i] == '<' && i + 1 < n && opens_markup(s[i + 1]))
                break;
        return i;
    }
    /* text_buf grows with what the run writes, not with the page */
    for (;;) {
        if (buf_reserve(&h->text_buf, n - i < 64 ? n - i : 64) < 0)
            return -1;
        Py_ssize_t room = h->text_buf.cap - h->text_buf.len;
        Py_ssize_t end = n - i <= room ? n : i + room;
        i = collapse_count(h, s, i, end, n, 1);
        if (i < end || end == n)
            return i;
    }
}

/* append v to the list *lst, made on the first append */
static int list_append(PyObject **lst, PyObject *v)
{
    if (!*lst && !(*lst = PyList_New(0)))
        return -1;
    return PyList_Append(*lst, v);
}

/* handler.py:132 — actions that change tag level */
static inline int changes_tag_level(int ta)
{
    return ta == TA_IGNORABLE || ta == TA_ANCHOR || ta == TA_BODY ||
           ta == TA_BLOCK_LABEL || ta == TA_TIME;
}

/* handler.py:246-272 _action_start: returns flush bool or -1 */
static int action_start(Handler *h, int ta, const TagEnt *e)
{
    switch (ta) {
    case TA_IGNORABLE:
        h->depth_ignoreable++;
        return 1;
    case TA_ANCHOR:
        h->depth_anchor++;
        if (h->depth_ignoreable == 0 && add_anchor_marker(h, 0) < 0)
            return -1;
        return 0;
    case TA_BODY:
        if (flush_block(h) < 0)
            return -1;
        h->depth_body++;
        return 0;
    case TA_INLINE_WS:
        if (add_ws_if_necessary(h) < 0)
            return -1;
        return 0;
    case TA_INLINE_NO_WS:
        return 0;
    case TA_BLOCK_LABEL:
        for (int i = 0; i < e->nlabels; i++)
            if (ipush(&h->label_stack, &h->label_len, &h->label_cap,
                      e->labels[i]) < 0)
                return -1;
        return 1;
    case TA_VOID:
        return 0;
    default:
        return 1; /* TA_TIME */
    }
}

/* handler.py:274-299 _action_end */
static int action_end(Handler *h, int ta)
{
    switch (ta) {
    case TA_IGNORABLE:
        h->depth_ignoreable--;
        return 1;
    case TA_ANCHOR:
        h->depth_anchor--;
        if (h->depth_anchor == 0 && h->depth_ignoreable == 0 &&
            add_anchor_marker(h, 1) < 0)
            return -1;
        return 0;
    case TA_BODY:
        if (flush_block(h) < 0)
            return -1;
        h->depth_body--;
        return 0;
    case TA_INLINE_WS:
        if (add_ws_if_necessary(h) < 0)
            return -1;
        return 0;
    case TA_INLINE_NO_WS:
        return 0;
    case TA_BLOCK_LABEL:
        return 1;
    case TA_VOID:
        return 0;
    default:
        return 1; /* TA_TIME */
    }
}

/* handler.py:199-220 start_element; dt_val = first datetime attr (owned
 * by caller) for <time>, or NULL */
static int start_element(Handler *h, const void *nm_v,
                         const TagEnt *e, PyObject *dt_val)
{
    int atom_id = (e && (e->props & PROP_ATOM)) ? e->atom_id : 0;
    if (ipush(&h->atom_stack, &h->atom_len, &h->atom_cap, atom_id) < 0)
        return -1;

    int ta = e ? e->action : TA_NONE;
    if (ta != TA_NONE) {
        if (ta == TA_TIME && dt_val && list_append(&h->datetimes, dt_val) < 0)
            return -1;
        if (changes_tag_level(ta))
            h->depth_tag++;
        int f = action_start(h, ta, e);
        if (f < 0)
            return -1;
        h->flush = f || h->flush;
    } else {
        h->depth_tag++;
        h->flush = 1;
    }

    /* tokenizer lower-cases tag names; only the =="title" compare is
     * ever read, so non-ascii / over-long names store a non-match */
    const Name *nm = (const Name *)nm_v;
    if (nm->ascii && nm->len < 32) {
        h->last_start_len = (int)nm->len;
        memcpy(h->last_start_tag, nm->buf, (size_t)nm->len);
    } else {
        h->last_start_len = 0;
    }
    return 0;
}

/* handler.py:222-244 end_element */
static int end_element(Handler *h, const TagEnt *e)
{
    int pa = h->atom_len ? h->atom_stack[--h->atom_len] : 0;
    int cur = (e && (e->props & PROP_ATOM)) ? e->atom_id : 0;
    if (pa != cur)
        return 0; /* malformed HTML, missing closing tag */

    int ta = e ? e->action : TA_NONE;
    if (ta != TA_NONE) {
        int f = action_end(h, ta);
        if (f < 0)
            return -1;
        h->flush = f || h->flush;
    } else {
        h->flush = 1;
    }

    if (ta == TA_NONE || changes_tag_level(ta))
        h->depth_tag--;

    if (h->flush && flush_block(h) < 0)
        return -1;

    /* content_handler.go:151 — unconditional pop */
    if (h->label_len)
        h->label_len--;
    return 0;
}

/* ------------------------------------------------------------------ */
/* Tokenizer + parse loop — htmltok.py + document.parse_to_handler     */
/* ------------------------------------------------------------------ */

typedef struct {
    const u32 *s;
    Py_ssize_t n, i;
    const TagEnt *raw; /* pending raw-text element, or NULL */
    Buf text_tmp;      /* processed text scratch (separate from handler) */
    Buf attr_tmp;      /* newline-converted attr value */
    Buf attr_val;      /* unescaped attr value */
} Parser;

static inline u32 ascii_lower(u32 c)
{
    return (c >= 'A' && c <= 'Z') ? c + 32 : c;
}

static inline int is_ws_char(u32 c) /* _WS = " \n\r\t\f" */
{
    return c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f';
}

static void name_from(Name *nm, const u32 *s, Py_ssize_t a, Py_ssize_t b)
{
    nm->len = b - a;
    nm->ascii = 1;
    if (nm->len >= 64) {
        nm->ascii = 0;
        return;
    }
    for (Py_ssize_t i = a; i < b; i++) {
        u32 c = s[i];
        if (c > 127) {
            nm->ascii = 0;
            return;
        }
        nm->buf[i - a] = (char)ascii_lower(c);
    }
}

static const TagEnt *name_ent(const Name *nm)
{
    if (!nm->ascii || nm->len == 0 || nm->len > 31)
        return NULL;
    TagEnt *e = tag_slot(nm->buf, (int)nm->len);
    return e->name ? e : NULL;
}

static inline int name_is(const Name *nm, const char *lit, Py_ssize_t n)
{
    return nm->ascii && nm->len == n && memcmp(nm->buf, lit, (size_t)n) == 0;
}

static Py_ssize_t find_char(const u32 *s, Py_ssize_t i, Py_ssize_t n, u32 c)
{
    for (; i < n; i++)
        if (s[i] == c)
            return i;
    return -1;
}

/* htmltok.py:122-134 _read_raw_end_tag */
static Py_ssize_t read_raw_end_tag(Parser *p, Py_ssize_t i)
{
    const u32 *s = p->s;
    const TagEnt *tag = p->raw;
    Py_ssize_t j = i + 2;
    Py_ssize_t end = j + tag->len;
    if (end > p->n)
        return -1;
    for (int t = 0; t < tag->len; t++)
        if ((u32)ascii_lower(s[j + t]) != (u32)(unsigned char)tag->name[t])
            return -1;
    if (end >= p->n)
        return -1; /* EOF right after the name: not an end tag */
    u32 c = s[end];
    if (is_ws_char(c) || c == '/' || c == '>')
        return i;
    return -1;
}

/* htmltok.py:136-148 _read_raw_or_rcdata */
static Py_ssize_t read_raw_or_rcdata(Parser *p)
{
    const u32 *s = p->s;
    Py_ssize_t n = p->n, i = p->i;
    for (;;) {
        Py_ssize_t j;
        for (j = i; j + 1 < n; j++)
            if (s[j] == '<' && s[j + 1] == '/')
                break;
        if (j + 1 >= n)
            return n;
        Py_ssize_t k = read_raw_end_tag(p, j);
        if (k != -1)
            return k;
        i = j + 2;
    }
}

/* htmltok.py:150-259 _read_script (escaped / double-escaped states) */
static Py_ssize_t read_script(Parser *p)
{
    const u32 *s = p->s;
    Py_ssize_t n = p->n, i = p->i;
    int state = 0;
    while (i < n) {
        if (state == 0) {
            Py_ssize_t j = find_char(s, i, n, '<');
            if (j == -1)
                return n;
            u32 c = (j + 1 < n) ? s[j + 1] : 0;
            if (c == '/') {
                Py_ssize_t k = read_raw_end_tag(p, j);
                if (k != -1)
                    return k;
                i = j + 2;
            } else if (c == '!') {
                if (j + 3 < n && s[j + 2] == '-' && s[j + 3] == '-') {
                    state = 1;
                    i = j + 4;
                } else {
                    i = j + 2;
                }
            } else {
                i = j + 1;
            }
        } else if (state == 1) {
            Py_ssize_t j = i;
            int found = 0;
            while (j < n) {
                u32 c = s[j];
                if (c == '-') {
                    Py_ssize_t k = j;
                    while (k < n && s[k] == '-')
                        k++;
                    if (k - j >= 2 && k < n && s[k] == '>') {
                        state = 0;
                        i = k + 1;
                        found = 1;
                        break;
                    }
                    j = k;
                } else if (c == '<') {
                    if (j + 1 < n && s[j + 1] == '/') {
                        Py_ssize_t k = read_raw_end_tag(p, j);
                        if (k != -1)
                            return k;
                        j += 2;
                    } else if (j + 1 < n && is_ascii_alpha(s[j + 1])) {
                        /* "<script" + terminator -> double escape */
                        if (j + 7 < n &&
                            ascii_lower(s[j + 1]) == 's' &&
                            ascii_lower(s[j + 2]) == 'c' &&
                            ascii_lower(s[j + 3]) == 'r' &&
                            ascii_lower(s[j + 4]) == 'i' &&
                            ascii_lower(s[j + 5]) == 'p' &&
                            ascii_lower(s[j + 6]) == 't' &&
                            (is_ws_char(s[j + 7]) || s[j + 7] == '/' ||
                             s[j + 7] == '>')) {
                            state = 2;
                            i = j + 8;
                            found = 1;
                            break;
                        }
                        j += 1;
                    } else {
                        j += 1;
                    }
                } else {
                    j += 1;
                }
            }
            if (!found && j >= n)
                return n;
        } else {
            Py_ssize_t j = i;
            int found = 0;
            while (j < n) {
                u32 c = s[j];
                if (c == '-') {
                    Py_ssize_t k = j;
                    while (k < n && s[k] == '-')
                        k++;
                    if (k - j >= 2 && k < n && s[k] == '>') {
                        state = 0;
                        i = k + 1;
                        found = 1;
                        break;
                    }
                    j = k;
                } else if (c == '<') {
                    if (j + 1 < n && s[j + 1] == '/') {
                        /* "</script" + term -> back to escaped */
                        if (j + 8 < n &&
                            ascii_lower(s[j + 2]) == 's' &&
                            ascii_lower(s[j + 3]) == 'c' &&
                            ascii_lower(s[j + 4]) == 'r' &&
                            ascii_lower(s[j + 5]) == 'i' &&
                            ascii_lower(s[j + 6]) == 'p' &&
                            ascii_lower(s[j + 7]) == 't' &&
                            (is_ws_char(s[j + 8]) || s[j + 8] == '/' ||
                             s[j + 8] == '>')) {
                            state = 1;
                            i = j + 9;
                            found = 1;
                            break;
                        }
                        j += 2;
                    } else {
                        j += 1;
                    }
                } else {
                    j += 1;
                }
            }
            if (!found && j >= n)
                return n;
        }
    }
    return n;
}

/* htmltok.py:375-377 */
static Py_ssize_t read_until_close_angle(Parser *p, Py_ssize_t i)
{
    Py_ssize_t j = find_char(p->s, i, p->n, '>');
    return j == -1 ? p->n : j + 1;
}

/* htmltok.py:379-401 _read_comment (i just past the opening dashes) */
static Py_ssize_t read_comment(Parser *p, Py_ssize_t i)
{
    const u32 *s = p->s;
    Py_ssize_t n = p->n;
    int dash_count = 2;
    while (i < n) {
        u32 c = s[i];
        i++;
        if (c == '-') {
            dash_count++;
        } else if (c == '>') {
            if (dash_count >= 2)
                return i;
            dash_count = 0;
        } else if (c == '!') {
            if (dash_count >= 2) {
                if (i < n && s[i] == '>')
                    return i + 1;
                i++; /* the checked byte was consumed */
            }
            dash_count = 0;
        } else {
            dash_count = 0;
        }
    }
    return n;
}

/* htmltok.py:403-410 _read_markup_declaration (i just past "<!") */
static Py_ssize_t read_markup_declaration(Parser *p, Py_ssize_t i)
{
    const u32 *s = p->s;
    Py_ssize_t n = p->n;
    if (i + 1 < n && s[i] == '-' && s[i + 1] == '-')
        return read_comment(p, i + 2);
    if (i + 7 <= n && ascii_lower(s[i]) == 'd' &&
        ascii_lower(s[i + 1]) == 'o' && ascii_lower(s[i + 2]) == 'c' &&
        ascii_lower(s[i + 3]) == 't' && ascii_lower(s[i + 4]) == 'y' &&
        ascii_lower(s[i + 5]) == 'p' && ascii_lower(s[i + 6]) == 'e')
        return read_until_close_angle(p, i + 7);
    return read_until_close_angle(p, i);
}

static Py_ssize_t skip_ws(Parser *p, Py_ssize_t i)
{
    while (i < p->n && is_ws_char(p->s[i]))
        i++;
    return i;
}

typedef struct {
    int want;    /* 0 none, 1 script(type), 2 time(datetime) */
    int ld_json; /* any type attr == application/ld+json */
    PyObject *dt; /* first datetime attr value (new ref) or NULL */
    int dt_seen;
} AttrCap;

/* convert newlines + attribute-mode unescape into p->attr_val */
static int process_attr_val(Parser *p, const u32 *v, Py_ssize_t vn)
{
    p->attr_tmp.len = 0;
    if (convert_newlines(v, vn, &p->attr_tmp) < 0)
        return -1;
    p->attr_val.len = 0;
    return go_unescape_u32(p->attr_tmp.p, p->attr_tmp.len, 1, &p->attr_val);
}

static const char LDJSON_MIME[] = "application/ld+json";

static int handle_attr(Parser *p, AttrCap *cap, const u32 *k, Py_ssize_t kn,
                       const u32 *v, Py_ssize_t vn)
{
    if (!cap || cap->want == 0 || kn == 0)
        return 0;
    char kb[16];
    if (kn > 15)
        return 0;
    for (Py_ssize_t i = 0; i < kn; i++) {
        if (k[i] > 127)
            return 0;
        kb[i] = (char)ascii_lower(k[i]);
    }
    if (cap->want == 1) {
        if (kn == 4 && memcmp(kb, "type", 4) == 0) {
            if (process_attr_val(p, v, vn) < 0)
                return -1;
            Py_ssize_t m = (Py_ssize_t)sizeof(LDJSON_MIME) - 1;
            if (p->attr_val.len == m) {
                int eq = 1;
                for (Py_ssize_t i = 0; i < m; i++)
                    if (p->attr_val.p[i] != (u32)(unsigned char)LDJSON_MIME[i]) {
                        eq = 0;
                        break;
                    }
                if (eq)
                    cap->ld_json = 1;
            }
        }
    } else if (cap->want == 2) {
        if (kn == 8 && memcmp(kb, "datetime", 8) == 0 && !cap->dt_seen) {
            cap->dt_seen = 1;
            if (process_attr_val(p, v, vn) < 0)
                return -1;
            cap->dt = str_from_u32(p->attr_val.p, p->attr_val.len);
            if (!cap->dt)
                return -1;
        }
    }
    return 0;
}

/* htmltok.py:269-282 _read_tag_name + 307-371 _read_tag slow path.
 * i points at the first name char.  cap == NULL => END tag (no attrs). */
static int read_tag(Parser *p, Py_ssize_t i, Name *nm, Py_ssize_t *end,
                    int *eof, AttrCap *cap)
{
    const u32 *s = p->s;
    Py_ssize_t n = p->n;
    *eof = 0;

    /* read tag name */
    Py_ssize_t a = i, j = i;
    for (;;) {
        if (j >= n) {
            name_from(nm, s, a, j);
            i = j;
            break;
        }
        u32 c = s[j];
        if (is_ws_char(c)) {
            name_from(nm, s, a, j);
            i = j + 1;
            break;
        }
        if (c == '/' || c == '>') {
            name_from(nm, s, a, j);
            i = j;
            break;
        }
        j++;
    }
    if (cap) {
        cap->want = 0;
        cap->ld_json = 0;
        cap->dt = NULL;
        cap->dt_seen = 0;
        if (name_is(nm, "script", 6))
            cap->want = 1;
        else if (name_is(nm, "time", 4))
            cap->want = 2;
    }

    i = skip_ws(p, i);
    for (;;) {
        if (i >= n) {
            *end = i;
            *eof = 1;
            return 0;
        }
        u32 c = s[i];
        if (c == '>') {
            *end = i + 1;
            return 0;
        }
        /* readTagAttrKey */
        Py_ssize_t k0 = i;
        while (i < n) {
            c = s[i];
            if (c == '=' && i == k0) {
                /* leading '=' is part of the name (WHATWG 13.2.5.32) */
                i++;
                continue;
            }
            if (is_ws_char(c) || c == '/' || c == '>' || c == '=')
                break;
            i++;
        }
        Py_ssize_t k1 = i;
        /* readTagAttrVal */
        Py_ssize_t v0 = 0, v1 = 0; /* empty val */
        i = skip_ws(p, i);
        if (i >= n) {
            if (handle_attr(p, cap, s + k0, k1 - k0, s + v0, v1 - v0) < 0)
                return -1;
            *end = i;
            *eof = 1;
            return 0;
        }
        c = s[i];
        if (c == '/') {
            i++;
        } else if (c == '=') {
            i = skip_ws(p, i + 1);
            if (i >= n) {
                if (handle_attr(p, cap, s + k0, k1 - k0, s + v0, v1 - v0) < 0)
                    return -1;
                *end = i;
                *eof = 1;
                return 0;
            }
            u32 q = s[i];
            if (q == '>') {
                /* unconsumed; loop sees it */
            } else if (q == '"' || q == '\'') {
                Py_ssize_t jj = find_char(s, i + 1, n, q);
                if (jj == -1) {
                    v0 = i + 1;
                    v1 = n;
                    i = n;
                } else {
                    v0 = i + 1;
                    v1 = jj;
                    i = jj + 1;
                }
            } else {
                Py_ssize_t jj = i;
                while (jj < n && !is_ws_char(s[jj]) && s[jj] != '>')
                    jj++;
                v0 = i;
                v1 = jj;
                i = (jj < n && s[jj] == '>') ? jj : jj + 1;
                if (i > n)
                    i = n;
            }
        }
        if (handle_attr(p, cap, s + k0, k1 - k0, s + v0, v1 - v0) < 0)
            return -1;
        i = skip_ws(p, i);
    }
}

/* TEXT delivery: ld+json capture (document.py:85-88) then text_token */
static int deliver_text(Handler *h, const u32 *d, Py_ssize_t n)
{
    if (h->in_ld_json) {
        PyObject *t = str_from_u32(d, n);
        if (!t)
            return -1;
        int rc = list_append(&h->ld_json, t);
        Py_DECREF(t);
        if (rc < 0)
            return -1;
    }
    return text_token(h, d, n);
}

/* The chars a text slice's scan stops at or notes (MK_LT ends normal
 * text); a slice with none of the others is delivered as it stands. */
#define MK_LT 1
#define MK_AMP 2 /* an entity to unescape (normal and RCDATA text) */
#define MK_CR 4  /* a newline to convert */
#define MK_NUL 8 /* raw text maps NUL to U+FFFD */
static const unsigned char TEXT_MARK[128] = {
    [0] = MK_NUL, ['\r'] = MK_CR, ['&'] = MK_AMP, ['<'] = MK_LT,
};

/* the marks of s[i..n) up to the first '<'; returns its index or n */
static Py_ssize_t scan_text(const u32 *s, Py_ssize_t i, Py_ssize_t n,
                            int *marks)
{
    int m = 0;
    for (; i < n; i++) {
        u32 c = s[i];
        if (c < 128 && TEXT_MARK[c]) {
            if (c == '<')
                break;
            m |= TEXT_MARK[c];
        }
    }
    *marks |= m;
    return i;
}

static int slice_marks(const u32 *s, Py_ssize_t n)
{
    int m = 0;
    for (Py_ssize_t i = 0; i < n; i++)
        if (s[i] < 128)
            m |= TEXT_MARK[s[i]];
    return m;
}

/* normal or RCDATA text s[a..b): convert newlines, then text-mode
 * unescape, each only when the slice's marks call for it */
static int deliver_slice(Parser *p, Handler *h, Py_ssize_t a, Py_ssize_t b,
                         int marks)
{
    const u32 *d = p->s + a;
    Py_ssize_t n = b - a;
    if (marks & MK_CR) {
        p->attr_tmp.len = 0;
        if (convert_newlines(d, n, &p->attr_tmp) < 0)
            return -1;
        d = p->attr_tmp.p;
        n = p->attr_tmp.len;
    }
    if (marks & MK_AMP) {
        p->text_tmp.len = 0;
        if (go_unescape_u32(d, n, 0, &p->text_tmp) < 0)
            return -1;
        d = p->text_tmp.p;
        n = p->text_tmp.len;
    }
    return deliver_text(h, d, n);
}

/* the fused iter_tokens + parse_to_handler loop
 * (htmltok.py:414-529 + document.py:74-104) */
static int run_parse(Parser *p, Handler *h)
{
    const u32 *s = p->s;
    Py_ssize_t n = p->n;

    for (;;) {
        Py_ssize_t i = p->i;
        if (i >= n)
            return 0;

        if (p->raw) {
            const TagEnt *tag = p->raw;
            Py_ssize_t end;
            int raw_mode;
            if (tag->len == 9 && memcmp(tag->name, "plaintext", 9) == 0) {
                end = n;
                raw_mode = 1;
            } else if (tag->len == 6 && memcmp(tag->name, "script", 6) == 0) {
                end = read_script(p);
                raw_mode = 1;
            } else {
                end = read_raw_or_rcdata(p);
                raw_mode = !(tag->props & PROP_RCDATA);
            }
            p->raw = NULL;
            if (end > i) {
                p->i = end;
                int marks = slice_marks(s + i, end - i);
                if (!raw_mode) {
                    if (deliver_slice(p, h, i, end, marks) < 0)
                        return -1;
                } else if (marks & (MK_CR | MK_NUL)) {
                    p->text_tmp.len = 0;
                    if (convert_newlines(s + i, end - i, &p->text_tmp) < 0)
                        return -1;
                    for (Py_ssize_t t = 0; t < p->text_tmp.len; t++)
                        if (p->text_tmp.p[t] == 0)
                            p->text_tmp.p[t] = 0xFFFD;
                    if (deliver_text(h, p->text_tmp.p, p->text_tmp.len) < 0)
                        return -1;
                } else if (deliver_text(h, s + i, end - i) < 0) {
                    return -1;
                }
                continue;
            }
            /* empty raw text: fall through to normal scanning */
            i = p->i;
        }

        if (!h->in_ld_json) {
            /* the common case: text read as it is delivered, up to the
             * markup or a '&', which the loop below takes from */
            i = text_run(h, s, i, n);
            if (i < 0)
                return -1;
            p->i = i;
            if (i >= n)
                return 0;
        }

        Py_ssize_t text_start = i;
        int marks = 0; /* of s[text_start..j) */
        for (;;) {
            Py_ssize_t j = scan_text(s, i, n, &marks);
            if (j == n) {
                p->i = n;
                if (text_start < n &&
                    deliver_slice(p, h, text_start, n, marks) < 0)
                    return -1;
                return 0;
            }
            if (j + 1 >= n) {
                p->i = n;
                if (deliver_slice(p, h, text_start, n, marks) < 0)
                    return -1;
                return 0;
            }
            u32 c = s[j + 1];
            int tok_start = 0, tok_end = 0;
            if (is_ascii_alpha(c))
                tok_start = 1;
            else if (c == '/')
                tok_end = 1;
            else if (c != '!' && c != '?') {
                i = j + 1; /* '<' is part of text */
                continue;
            }

            if (text_start < j) {
                /* emit accumulated text first; re-scan the tag after */
                p->i = j;
                if (deliver_slice(p, h, text_start, j, marks) < 0)
                    return -1;
                break;
            }

            if (tok_start) {
                Name nm;
                Py_ssize_t end;
                int eof;
                AttrCap cap;
                if (read_tag(p, j + 1, &nm, &end, &eof, &cap) < 0)
                    return -1;
                if (eof) {
                    Py_XDECREF(cap.dt);
                    p->i = n;
                    return 0;
                }
                p->i = end;
                const TagEnt *e = name_ent(&nm);
                if (e && (e->props & PROP_RAW))
                    /* set even when the tag turns out self-closing
                     * (x/net/html readStartTag does the same) */
                    p->raw = e;
                int self_closing = (end - 2 >= 0 && s[end - 2] == '/');
                if (!self_closing) {
                    /* parse loop (document.py:89-98) */
                    if (e && (e->props & PROP_SBSC)) {
                        Py_XDECREF(cap.dt);
                        break; /* skipped start tag */
                    }
                    if (cap.want == 1 && cap.ld_json)
                        h->in_ld_json = 1;
                    int rc = start_element(h, &nm, e, cap.dt);
                    Py_XDECREF(cap.dt);
                    if (rc < 0)
                        return -1;
                } else {
                    Py_XDECREF(cap.dt); /* SELF_CLOSING: do nothing */
                }
                break;
            }

            if (tok_end) {
                if (j + 2 >= n) {
                    p->i = n;
                    if (deliver_slice(p, h, text_start, n, marks) < 0)
                        return -1;
                    return 0;
                }
                c = s[j + 2];
                if (c == '>') {
                    p->i = j + 3; /* "</>" empty comment: ignored */
                } else if (is_ascii_alpha(c)) {
                    Name nm;
                    Py_ssize_t end;
                    int eof;
                    if (read_tag(p, j + 2, &nm, &end, &eof, NULL) < 0)
                        return -1;
                    if (eof) {
                        p->i = n;
                        return 0;
                    }
                    p->i = end;
                    if (h->in_ld_json)
                        h->in_ld_json = 0;
                    if (end_element(h, name_ent(&nm)) < 0)
                        return -1;
                } else {
                    p->i = read_until_close_angle(p, j + 2); /* comment */
                }
                break;
            }

            /* comment-ish */
            if (c == '!')
                p->i = read_markup_declaration(p, j + 2);
            else
                p->i = read_until_close_angle(p, j + 2);
            break;
        }
    }
}

/* ------------------------------------------------------------------ */
/* Article filter chain — filters.py port (filter.go semantics)        */
/* ------------------------------------------------------------------ */

/* Go strings.ToLower = the SIMPLE per-rune lowercase mapping, which is
 * exactly what Py_UNICODE_TOLOWER provides (Python str.lower() differs
 * only by the U+0130 expansion and Final_Sigma — the two cases
 * filters.py pre-translates; see its _GO_LOWER_FIX comment). */
static inline u32 go_lower_rune(u32 c)
{
    if (c < 0x80)
        return (c >= 'A' && c <= 'Z') ? c + 32 : c;
    if (c == 0x130)
        return 'i'; /* Go simple map for İ (filters.py _GO_LOWER_FIX) */
    if (c == 0x3A3)
        return 0x3C3; /* Σ -> σ always (no Final_Sigma context) */
    return (u32)Py_UNICODE_TOLOWER((Py_UCS4)c);
}

static int u32_startswith_ascii(const u32 *s, Py_ssize_t n, const char *lit)
{
    Py_ssize_t m = (Py_ssize_t)strlen(lit);
    if (n < m)
        return 0;
    for (Py_ssize_t i = 0; i < m; i++)
        if (s[i] != (u32)(unsigned char)lit[i])
            return 0;
    return 1;
}

/* needle given as UCS4 array */
static int u32_contains(const u32 *s, Py_ssize_t n, const u32 *nd,
                        Py_ssize_t m)
{
    if (m == 0)
        return 1;
    for (Py_ssize_t i = 0; i + m <= n; i++) {
        if (s[i] == nd[0] && memcmp(s + i, nd, (size_t)m * sizeof(u32)) == 0)
            return 1;
    }
    return 0;
}

static Py_ssize_t u32_find(const u32 *s, Py_ssize_t n, const u32 *nd,
                           Py_ssize_t m)
{
    if (m == 0)
        return 0;
    for (Py_ssize_t i = 0; i + m <= n; i++)
        if (s[i] == nd[0] && memcmp(s + i, nd, (size_t)m * sizeof(u32)) == 0)
            return i;
    return -1;
}

static int u32_eq_ascii(const u32 *s, Py_ssize_t n, const char *lit)
{
    Py_ssize_t m = (Py_ssize_t)strlen(lit);
    if (n != m)
        return 0;
    for (Py_ssize_t i = 0; i < m; i++)
        if (s[i] != (u32)(unsigned char)lit[i])
            return 0;
    return 1;
}

/* filters.py:48-58 _starts_with_number */
static int starts_with_number(const u32 *s, Py_ssize_t n)
{
    Py_ssize_t i = 0;
    while (i < n && s[i] >= '0' && s[i] <= '9')
        i++;
    if (i == 0)
        return 0;
    if (u32_startswith_ascii(s + i, n - i, " comments"))
        return 1;
    if (u32_startswith_ascii(s + i, n - i, " users responded in"))
        return 1;
    return 0;
}

/* the two non-ASCII phrases, as UCS4 literals */
static const u32 PH_REUTERS[] = {0xA9, ' ', 'r', 'e', 'u', 't', 'e', 'r', 's'};
static const u32 PH_RATTA[] = {'r', 0xE4, 't', 't', 'a', ' ', 'a', 'r', 't',
                               'i', 'k', 'e', 'l', 'n'};

/* whether s holds one of F1's seven contained phrases (filters.py
 * _TERMINATING_CONTAINS), in one scan: each position is tested only against the
 * phrases that start with its char */
static int contains_term(const u32 *s, Py_ssize_t n)
{
    for (Py_ssize_t i = 0; i + 11 <= n; i++) { /* "add comment": 11 */
        const u32 *t = s + i;
        Py_ssize_t m = n - i;
        switch (t[0]) {
        case 'a':
            if (t[1] == 'd' &&
                (u32_startswith_ascii(t, m, "add comment") ||
                 u32_startswith_ascii(t, m, "add your comment")))
                return 1;
            break;
        case 'h':
            if (u32_startswith_ascii(t, m, "have your say"))
                return 1;
            break;
        case 'r':
            if (t[1] == 'e' &&
                (u32_startswith_ascii(t, m, "reader views") ||
                 u32_startswith_ascii(t, m, "reader comments")))
                return 1;
            if (t[1] == 0xE4 && m >= (Py_ssize_t)(sizeof(PH_RATTA) / 4) &&
                memcmp(t, PH_RATTA, sizeof(PH_RATTA)) == 0)
                return 1;
            break;
        case 'w':
            if (u32_startswith_ascii(t, m, "what you think..."))
                return 1;
            break;
        }
    }
    return 0;
}

/* filters.py:61-90 F1 terminating_blocks.  scratch reused for lowering. */
static int f_terminating_blocks(Handler *h)
{
    for (Py_ssize_t bi = 0; bi < h->nblocks; bi++) {
        CBlock *tb = h->blocks[bi];
        if (tb->num_words >= 15)
            continue;
        Py_ssize_t a = 0, b = tb->text_len;
        trim_go_space(tb->text, &a, &b);
        const u32 *tx = tb->text + a;
        Py_ssize_t tn = b - a;
        /* every char takes at least one utf-8 byte */
        if (tn >= 8 || utf8_byte_len(tx, tn) >= 8) {
            Buf *sc = &h->scratch;
            sc->len = 0;
            if (buf_reserve(sc, tn) < 0)
                return -1;
            for (Py_ssize_t i = 0; i < tn; i++)
                sc->p[sc->len++] = go_lower_rune(tx[i]);
            const u32 *lc = sc->p;
            Py_ssize_t ln = sc->len;
            int hit =
                u32_startswith_ascii(lc, ln, "comments") ||
                starts_with_number(lc, ln) ||
                (ln >= 9 && memcmp(lc, PH_REUTERS, sizeof(PH_REUTERS)) == 0) ||
                u32_startswith_ascii(lc, ln, "please rate this") ||
                u32_startswith_ascii(lc, ln, "post a comment");
            hit = hit || contains_term(lc, ln) ||
                  u32_eq_ascii(lc, ln,
                               "thanks for your comments - this feedback "
                               "is now closed");
            if (hit)
                tb->labels[LBL_INDICATES_END_OF_TEXT]++;
        } else if (cb_link_density(tb) == 1.0) {
            if (u32_eq_ascii(tx, tn, "Comment"))
                tb->labels[LBL_INDICATES_END_OF_TEXT]++;
        }
    }
    return 0;
}

/* -- F2 DocumentTitleMatchClassifier ------------------------------------ */

/* filters.py:169-174 _normalize_title_text into an owned buffer */
static int normalize_title(const u32 *s, Py_ssize_t n, Buf *out)
{
    out->len = 0;
    if (buf_reserve(out, n) < 0)
        return -1;
    for (Py_ssize_t i = 0; i < n; i++) {
        u32 c = s[i];
        if (c == 0xA0)
            c = ' ';
        else if (c == '\'')
            continue;
        out->p[out->len++] = c;
    }
    Py_ssize_t a = 0, b = out->len;
    trim_go_space(out->p, &a, &b);
    for (Py_ssize_t i = a; i < b; i++)
        out->p[i - a] = go_lower_rune(out->p[i]);
    out->len = b - a;
    return 0;
}

/* the six separator char classes (filters.py _TITLE_SEP_SETS), each
 * with U+00BB (») too, the last with U+00A0 too */
static const char *SEP_SETS[6] = {
    "|-", "|:", "|:()", "|:()-", "|,:()-", "|,:()-",
};
static unsigned char g_sep[6][128]; /* SEP_SETS as tables (init_tables) */

static inline int sep_in_set(u32 c, int set_idx)
{
    if (c < 128)
        return g_sep[set_idx][c];
    return c == 0xBB || (c == 0xA0 && set_idx == 5);
}

/* leftmost-greedy match of "[ ]*[set][ ]*" in s[p0..n) */
static int sep_match(const u32 *s, Py_ssize_t n, Py_ssize_t p0, int set_idx,
                     Py_ssize_t *ms, Py_ssize_t *me)
{
    for (Py_ssize_t pp = p0; pp < n; pp++) {
        Py_ssize_t k = pp;
        while (k < n && s[k] == ' ')
            k++;
        if (k < n && sep_in_set(s[k], set_idx)) {
            /* greedy: maximal spaces, the set char, maximal spaces */
            Py_ssize_t e = k + 1;
            while (e < n && s[e] == ' ')
                e++;
            *ms = pp;
            *me = e;
            return 1;
        }
        /* no match at pp, nor at any later start inside its space run,
         * which ends at the same non-separator s[k]: resume past it */
        pp = k;
    }
    return 0;
}

/* count of re.split("[\x08 ]+") parts = separator runs + 1 */
static long word_split_count(const u32 *s, Py_ssize_t n)
{
    long runs = 0;
    Py_ssize_t i = 0;
    while (i < n) {
        if (s[i] == ' ' || s[i] == 0x08) {
            runs++;
            while (i < n && (s[i] == ' ' || s[i] == 0x08))
                i++;
        } else {
            i++;
        }
    }
    return runs + 1;
}

static const u32 DOTCOM[] = {'.', 'c', 'o', 'm'};

/* potential-title set: owned UCS4 strings */
typedef struct {
    u32 *p[64];
    Py_ssize_t len[64];
    int n;
} TitleSet;

static int tset_add(TitleSet *ts, const u32 *s, Py_ssize_t n)
{
    for (int i = 0; i < ts->n; i++)
        if (ts->len[i] == n &&
            memcmp(ts->p[i], s, (size_t)n * sizeof(u32)) == 0)
            return 0; /* already present (set semantics) */
    if (ts->n >= 64)
        return 0; /* far above any real potential-set size */
    u32 *cp = (u32 *)PyMem_Malloc((size_t)(n ? n : 1) * sizeof(u32));
    if (!cp) {
        PyErr_NoMemory();
        return -1;
    }
    memcpy(cp, s, (size_t)n * sizeof(u32));
    ts->p[ts->n] = cp;
    ts->len[ts->n] = n;
    ts->n++;
    return 0;
}

static void tset_free(TitleSet *ts)
{
    for (int i = 0; i < ts->n; i++)
        PyMem_Free(ts->p[i]);
    ts->n = 0;
}

static int tset_has(const TitleSet *ts, const u32 *s, Py_ssize_t n)
{
    for (int i = 0; i < ts->n; i++)
        if (ts->len[i] == n &&
            memcmp(ts->p[i], s, (size_t)n * sizeof(u32)) == 0)
            return 1;
    return 0;
}

/* filters.py:113-128 _get_longest_part for one separator pattern */
static int get_longest_part(const u32 *t, Py_ssize_t n, int set_idx,
                            TitleSet *ts)
{
    Py_ssize_t ms, me;
    /* at least one separator, or len(parts) == 1 -> "" */
    int more = sep_match(t, n, 0, set_idx, &ms, &me);
    if (!more)
        return 0;
    long longest_num_words = 0;
    const u32 *lp = NULL;
    Py_ssize_t lplen = 0;
    for (Py_ssize_t ps = 0;;) {
        Py_ssize_t pe = more ? ms : n;
        /* part = t[ps..pe) */
        if (!u32_contains(t + ps, pe - ps, DOTCOM, 4)) {
            long nwords = word_split_count(t + ps, pe - ps);
            if (nwords > longest_num_words || (pe - ps) > lplen) {
                longest_num_words = nwords;
                lp = t + ps;
                lplen = pe - ps;
            }
        }
        if (!more)
            break;
        ps = me;
        more = sep_match(t, n, ps, set_idx, &ms, &me);
    }
    Py_ssize_t a = 0, b = lplen;
    if (lp != NULL)
        trim_go_space(lp, &a, &b);
    /* an empty part is never a potential title (filters.py: `if pot`) */
    return b > a ? tset_add(ts, lp + a, b - a) : 0;
}

/* filters.py:131-141 _add_potential_titles (single-space split parts) */
static int add_potential_titles(const u32 *t, Py_ssize_t n, TitleSet *ts)
{
    /* parts = title.split(" "); if only one part, nothing */
    int has_space = 0;
    for (Py_ssize_t i = 0; i < n; i++)
        if (t[i] == ' ') {
            has_space = 1;
            break;
        }
    if (!has_space)
        return 0;
    Py_ssize_t i = 0;
    while (i <= n) {
        Py_ssize_t j = i;
        while (j < n && t[j] != ' ')
            j++;
        if (!u32_contains(t + i, j - i, DOTCOM, 4) &&
            word_split_count(t + i, j - i) >= 4) {
            if (tset_add(ts, t + i, j - i) < 0)
                return -1;
        }
        i = j + 1;
        if (j >= n)
            break;
    }
    return 0;
}

/* filters.py:144-148 _remove_first for " - [^-]+$" and "^[^-]+ - " */
static int remove_first_trail(const u32 *t, Py_ssize_t n, TitleSet *ts)
{
    /* leftmost p with t[p..p+3)==" - " and t[p+3..n) nonempty, no '-' */
    Py_ssize_t p = -1;
    for (Py_ssize_t i = 0; i + 3 < n + 1; i++) {
        if (t[i] == ' ' && i + 2 < n && t[i + 1] == '-' && t[i + 2] == ' ') {
            if (i + 3 >= n)
                continue; /* [^-]+ needs >=1 char */
            int ok = 1;
            for (Py_ssize_t j = i + 3; j < n; j++)
                if (t[j] == '-') {
                    ok = 0;
                    break;
                }
            if (ok) {
                p = i;
                break;
            }
        }
    }
    if (p < 0)
        return tset_add(ts, t, n);
    /* matched text = t[p..n); remove its FIRST occurrence in t */
    Py_ssize_t at = u32_find(t, n, t + p, n - p);
    Buf tmp = {0};
    if (buf_extend(&tmp, t, at) < 0 ||
        buf_extend(&tmp, t + at + (n - p), n - (at + (n - p))) < 0) {
        buf_free(&tmp);
        return -1;
    }
    int rc = tset_add(ts, tmp.p, tmp.len);
    buf_free(&tmp);
    return rc;
}

static int remove_first_lead(const u32 *t, Py_ssize_t n, TitleSet *ts)
{
    /* "^[^-]+ - ": first '-' at z; need z>=2, t[z-1]==' ', t[z+1]==' ' */
    Py_ssize_t z = -1;
    for (Py_ssize_t i = 0; i < n; i++)
        if (t[i] == '-') {
            z = i;
            break;
        }
    if (z < 2 || z + 1 >= n || t[z - 1] != ' ' || t[z + 1] != ' ')
        return tset_add(ts, t, n);
    /* matched text = t[0..z+2); first occurrence is the prefix */
    return tset_add(ts, t + z + 2, n - (z + 2));
}

/* A lower bound on the length of both normalized forms of a block text
 * that F2 compares: its chars that are neither space nor dropped (an
 * apostrophe, or ?!.-: in the second form).  No char lowers into those
 * classes.  Counting stops once the bound passes cap. */
static Py_ssize_t title_solid_len(const u32 *s, Py_ssize_t n, Py_ssize_t cap)
{
    Py_ssize_t k = 0;
    for (Py_ssize_t i = 0; i < n && k <= cap; i++) {
        u32 c = s[i];
        k += c < 128 ? !(g_ascii_cls[c] & (CL_SPACE | CL_TPUNCT | CL_APOS))
                     : !bit_test(g_space_bits, c);
    }
    return k;
}

/* filters.py:177-202 F2 document_title_match_classifier */
static int f_title_match(Handler *h, const u32 *title0, Py_ssize_t tn0)
{
    if (tn0 == 0)
        return 0;
    Buf title = {0};
    if (normalize_title(title0, tn0, &title) < 0)
        return -1;
    if (title.len == 0) {
        buf_free(&title);
        return 0;
    }
    TitleSet ts = {{0}, {0}, 0};
    int rc = -1;
    if (tset_add(&ts, title.p, title.len) < 0)
        goto done;
    for (int si = 0; si < 6; si++)
        if (get_longest_part(title.p, title.len, si, &ts) < 0)
            goto done;
    if (add_potential_titles(title.p, title.len, &ts) < 0)
        goto done;
    if (remove_first_trail(title.p, title.len, &ts) < 0)
        goto done;
    if (remove_first_lead(title.p, title.len, &ts) < 0)
        goto done;

    Py_ssize_t maxlen = 0;
    for (int i = 0; i < ts.n; i++)
        if (ts.len[i] > maxlen)
            maxlen = ts.len[i];
    Buf *nb = &h->scratch;
    for (Py_ssize_t bi = 0; bi < h->nblocks; bi++) {
        CBlock *tb = h->blocks[bi];
        if (title_solid_len(tb->text, tb->text_len, maxlen) > maxlen)
            continue; /* both forms below are longer than any title */
        if (normalize_title(tb->text, tb->text_len, nb) < 0)
            goto done;
        int hit = tset_has(&ts, nb->p, nb->len);
        if (!hit) {
            /* strip the title punctuation class in place, then trim */
            Py_ssize_t m = 0;
            for (Py_ssize_t i = 0; i < nb->len; i++) {
                u32 c = nb->p[i];
                if (!(c < 128 && (g_ascii_cls[c] & CL_TPUNCT)))
                    nb->p[m++] = c;
            }
            Py_ssize_t a = 0, b = m;
            trim_go_space(nb->p, &a, &b);
            hit = tset_has(&ts, nb->p + a, b - a);
        }
        if (hit) {
            tb->labels[LBL_TITLE]++;
            break;
        }
    }
    rc = 0;
done:
    tset_free(&ts);
    buf_free(&title);
    return rc;
}

/* filters.py:207-243 F3 num_words_rules_classifier */
static void classify3(const CBlock *prev, CBlock *curr, const CBlock *nxt)
{
    int is_content;
    if (cb_link_density(curr) <= 0.333333) {
        if (cb_link_density(prev) <= 0.555556) {
            if (curr->num_words <= 16) {
                if (nxt->num_words <= 15)
                    is_content = prev->num_words > 4;
                else
                    is_content = 1;
            } else {
                is_content = 1;
            }
        } else {
            if (curr->num_words <= 40)
                is_content = nxt->num_words > 17;
            else
                is_content = 1;
        }
    } else {
        is_content = 0;
    }
    curr->is_content = is_content;
}

static const CBlock CB_EMPTY = {0};

static void f_num_words_rules(Handler *h)
{
    Py_ssize_t n = h->nblocks;
    if (n == 0)
        return;
    const CBlock *prev = &CB_EMPTY;
    CBlock *curr = h->blocks[0];
    CBlock *nxt = (n >= 2) ? h->blocks[1] : (CBlock *)&CB_EMPTY;
    classify3(prev, curr, nxt);
    if (n >= 2) {
        for (Py_ssize_t i = 2; i < n; i++) {
            prev = curr;
            curr = nxt;
            nxt = h->blocks[i];
            classify3(prev, curr, nxt);
        }
        prev = curr;
        curr = nxt;
        classify3(prev, curr, &CB_EMPTY);
    }
}

/* filters.py:248-268 F4 ignore_blocks_after_content (min words 60) */
static void f_ignore_after_content(Handler *h)
{
    long num_words = 0;
    int found_end = 0;
    for (Py_ssize_t i = 0; i < h->nblocks; i++) {
        CBlock *tb = h->blocks[i];
        int eot = tb->labels[LBL_INDICATES_END_OF_TEXT] > 0;
        if (tb->is_content) {
            double td = (double)tb->nwiwl / (double)tb->nwl;
            if (td >= 9.0)
                num_words += tb->num_words;
        }
        if (eot && num_words >= 60)
            found_end = 1;
        if (found_end)
            tb->is_content = 0;
    }
}

/* filters.py:273-282 F5 trailing_headline_to_boilerplate */
static void f_trailing_headline(Handler *h)
{
    for (Py_ssize_t i = h->nblocks - 1; i >= 0; i--) {
        CBlock *tb = h->blocks[i];
        if (tb->is_content) {
            if (tb->labels[LBL_HEADING] > 0)
                tb->is_content = 0;
            else
                break;
        }
    }
}

/* filters.py:287-332 F6/F8 block_proximity_fusion. One pass compacts the
 * array: blocks [0, w) are kept, a merged block is freed and not kept. */
static int f_block_proximity_fusion(Handler *h, long max_dist,
                                    int content_only, int same_level_only)
{
    if (h->nblocks < 2)
        return 0;
    CBlock *prev_block = NULL;
    Py_ssize_t start_block = 0;
    if (content_only) {
        for (Py_ssize_t i = 0; i < h->nblocks; i++) {
            start_block++;
            if (h->blocks[i]->is_content) {
                prev_block = h->blocks[i];
                break;
            }
        }
        if (prev_block == NULL)
            return 0;
    } else {
        prev_block = h->blocks[0];
        start_block = 1;
    }

    Py_ssize_t w = start_block;
    for (Py_ssize_t i = start_block; i < h->nblocks; i++) {
        CBlock *tb = h->blocks[i];
        if (tb->is_content) {
            /* Go-port quirk: the current block's own offsets
             * (filter.go:362) */
            long diff = tb->off_start - tb->off_end - 1;
            int merge = diff <= max_dist;
            if (content_only && !prev_block->is_content)
                merge = 0;
            if (merge && same_level_only &&
                prev_block->tag_level != tb->tag_level)
                merge = 0;
            if (merge) {
                if (cblock_merge_next(prev_block, tb) < 0) {
                    /* keep the unvisited tail owned by the array */
                    memmove(h->blocks + w, h->blocks + i,
                            (size_t)(h->nblocks - i) * sizeof(CBlock *));
                    h->nblocks = w + (h->nblocks - i);
                    return -1;
                }
                cblock_release(h, tb);
                continue;
            }
        }
        prev_block = tb;
        h->blocks[w++] = tb;
    }
    h->nblocks = w;
    return 0;
}

/* filters.py:337-343 F7 boilerplate_block */
static void f_boilerplate_block(Handler *h)
{
    Py_ssize_t w = 0;
    for (Py_ssize_t i = 0; i < h->nblocks; i++) {
        CBlock *tb = h->blocks[i];
        if (tb->is_content || tb->labels[LBL_TITLE] > 0)
            h->blocks[w++] = tb;
        else
            cblock_release(h, tb);
    }
    h->nblocks = w;
}

/* filters.py:351-403 F9 keep_largest_blocks (expand + min_words 150) */
static void f_keep_largest_blocks(Handler *h)
{
    if (h->nblocks < 2)
        return;
    long max_num_words = -1;
    CBlock *largest = NULL;
    int level = -1;
    Py_ssize_t n_idx = -1;
    for (Py_ssize_t j = 0; j < h->nblocks; j++) {
        CBlock *tb = h->blocks[j];
        if (tb->is_content && tb->num_words > max_num_words) {
            largest = tb;
            max_num_words = tb->num_words;
            n_idx = j;
            level = tb->tag_level;
        }
    }
    for (Py_ssize_t j = 0; j < h->nblocks; j++) {
        CBlock *tb = h->blocks[j];
        if (tb == largest) {
            tb->is_content = 1;
            tb->labels[LBL_VERY_LIKELY_CONTENT]++;
        } else {
            int isl;
            if (max_num_words >= 1000)
                isl = tb->is_content &&
                      tb->num_words >= (long)(0.25 * (double)max_num_words);
            else if (max_num_words >= 500)
                isl = tb->is_content &&
                      tb->num_words >= (long)(0.6 * (double)max_num_words);
            else
                isl = tb->is_content && tb->num_words == max_num_words;
            tb->is_content = isl;
            tb->labels[LBL_MIGHT_BE_CONTENT]++;
        }
    }
    if (n_idx != -1) {
        for (Py_ssize_t j = h->nblocks - 1; j >= 0; j--) {
            CBlock *tb = h->blocks[j];
            if (tb->tag_level < level)
                break;
            if (tb->tag_level == level && tb->num_words >= 150)
                tb->is_content = 1;
        }
        for (Py_ssize_t j = 0; j < h->nblocks; j++) {
            CBlock *tb = h->blocks[j];
            if (tb->tag_level < level)
                break;
            if (tb->tag_level == level && tb->num_words >= 150)
                tb->is_content = 1;
        }
    }
}

/* filters.py:408-426 F10 expand_title_to_content */
static void f_expand_title(Handler *h)
{
    Py_ssize_t title = -1, content_start = -1;
    for (Py_ssize_t j = 0; j < h->nblocks; j++) {
        CBlock *tb = h->blocks[j];
        if (content_start == -1 && tb->labels[LBL_TITLE] > 0)
            title = j;
        if (content_start == -1 && tb->is_content)
            content_start = j;
    }
    if (content_start <= title || title == -1)
        return;
    /* Go-port quirk (filter.go:598-599): a prefix of the doc */
    for (Py_ssize_t i = 0; i < content_start - title; i++) {
        CBlock *tb = h->blocks[i];
        if (tb->labels[LBL_MIGHT_BE_CONTENT] > 0)
            tb->is_content = 1;
    }
}

/* filters.py:431-445 F11 large_block_same_tag_level_to_content */
static void f_large_block_same_level(Handler *h)
{
    int tag_level = -1;
    for (Py_ssize_t j = 0; j < h->nblocks; j++) {
        CBlock *tb = h->blocks[j];
        if (tb->is_content && tb->labels[LBL_VERY_LIKELY_CONTENT] > 0) {
            tag_level = tb->tag_level;
            break;
        }
    }
    if (tag_level == -1)
        return;
    for (Py_ssize_t j = 0; j < h->nblocks; j++) {
        CBlock *tb = h->blocks[j];
        if (!tb->is_content && tb->num_words >= 100 &&
            tb->tag_level == tag_level)
            tb->is_content = 1;
    }
}

/* filters.py:450-467 F12 list_at_end */
static void f_list_at_end(Handler *h)
{
    long tag_level = 2147483647L; /* MAX_INT32 */
    for (Py_ssize_t j = 0; j < h->nblocks; j++) {
        CBlock *tb = h->blocks[j];
        if (tb->is_content && tb->labels[LBL_VERY_LIKELY_CONTENT] > 0) {
            tag_level = tb->tag_level;
        } else {
            if (tb->tag_level > tag_level &&
                tb->labels[LBL_MIGHT_BE_CONTENT] > 0 &&
                tb->labels[LBL_LIST] > 0 && cb_link_density(tb) == 0.0) {
                tb->is_content = 1;
            } else {
                tag_level = 2147483647L;
            }
        }
    }
}

/* filters.py:498-514 article_pipeline (filter.go:30-46 order) */
static int run_article_pipeline(Handler *h, const u32 *title,
                                Py_ssize_t title_len)
{
    if (f_terminating_blocks(h) < 0)
        return -1;
    if (f_title_match(h, title, title_len) < 0)
        return -1;
    f_num_words_rules(h);
    f_ignore_after_content(h);
    f_trailing_headline(h);
    if (f_block_proximity_fusion(h, 1, 0, 0) < 0)
        return -1;
    f_boilerplate_block(h);
    if (f_block_proximity_fusion(h, 1, 1, 1) < 0)
        return -1;
    f_keep_largest_blocks(h);
    f_expand_title(h);
    f_large_block_same_level(h);
    f_list_at_end(h);
    return 0;
}

/* ------------------------------------------------------------------ */
/* module interface                                                    */
/* ------------------------------------------------------------------ */

static int set_ranges(unsigned char *bits, PyObject *ranges)
{
    /* ranges: sequence of (lo, hi) inclusive */
    PyObject *seq = PySequence_Fast(ranges, "ranges must be a sequence");
    if (!seq)
        return -1;
    Py_ssize_t n = PySequence_Fast_GET_SIZE(seq);
    for (Py_ssize_t i = 0; i < n; i++) {
        PyObject *pair = PySequence_Fast_GET_ITEM(seq, i);
        long lo = PyLong_AsLong(PyTuple_GET_ITEM(pair, 0));
        long hi = PyLong_AsLong(PyTuple_GET_ITEM(pair, 1));
        if (PyErr_Occurred()) {
            Py_DECREF(seq);
            return -1;
        }
        for (long c = lo; c <= hi && c < CP_MAX; c++)
            bits[c >> 3] |= (unsigned char)(1u << (c & 7));
    }
    Py_DECREF(seq);
    return 0;
}

static int mark_names(PyObject *names, int prop, int action)
{
    PyObject *seq = PySequence_Fast(names, "names must be a sequence");
    if (!seq)
        return -1;
    Py_ssize_t n = PySequence_Fast_GET_SIZE(seq);
    for (Py_ssize_t i = 0; i < n; i++) {
        PyObject *it = PySequence_Fast_GET_ITEM(seq, i);
        Py_ssize_t len;
        const char *name = PyUnicode_AsUTF8AndSize(it, &len);
        if (!name || len > 31) {
            Py_DECREF(seq);
            if (!PyErr_Occurred())
                PyErr_SetString(PyExc_ValueError, "tag name too long");
            return -1;
        }
        int idx = tag_insert(name, len);
        if (idx < 0) {
            Py_DECREF(seq);
            return -1;
        }
        g_tags[idx].props |= prop;
        if (action)
            g_tags[idx].action = action;
        if (prop == PROP_ATOM)
            g_tags[idx].atom_id = ++g_atom_count;
    }
    Py_DECREF(seq);
    return 0;
}

static PyObject *py_init_tables(PyObject *Py_UNUSED(self), PyObject *args)
{
    PyObject *cfg;
    if (!PyArg_ParseTuple(args, "O!", &PyDict_Type, &cfg))
        return NULL;
    if (g_ready) {
        Py_RETURN_NONE; /* idempotent */
    }

    if (!g_word_bits) {
        g_word_bits = (unsigned char *)PyMem_Calloc(CP_MAX / 8 + 1, 1);
        g_tokw_bits = (unsigned char *)PyMem_Calloc(CP_MAX / 8 + 1, 1);
        g_space_bits = (unsigned char *)PyMem_Calloc(CP_MAX / 8 + 1, 1);
        g_bmp_cls = (unsigned char *)PyMem_Calloc(0x10000, 1);
        if (!g_word_bits || !g_tokw_bits || !g_space_bits || !g_bmp_cls)
            return PyErr_NoMemory();
    }

    PyObject *letters = PyDict_GetItemString(cfg, "letter_ranges");
    PyObject *numeric = PyDict_GetItemString(cfg, "numeric_word_ranges");
    PyObject *entities = PyDict_GetItemString(cfg, "entities");
    PyObject *go_space = PyDict_GetItemString(cfg, "go_space");
    PyObject *actions = PyDict_GetItemString(cfg, "tag_actions");
    PyObject *atoms = PyDict_GetItemString(cfg, "atoms");
    PyObject *raw_tags = PyDict_GetItemString(cfg, "raw_tags");
    PyObject *rcdata = PyDict_GetItemString(cfg, "rcdata_tags");
    PyObject *sbsc = PyDict_GetItemString(cfg, "sbsc_tags");
    PyObject *labels = PyDict_GetItemString(cfg, "block_labels");
    if (!letters || !numeric || !entities || !go_space || !actions ||
        !atoms || !raw_tags || !rcdata || !sbsc || !labels) {
        PyErr_SetString(PyExc_KeyError, "init_tables: missing config key");
        return NULL;
    }

    /* word char = \p{L} + \p{Nd}\p{Nl}\p{No}; tokenize word = \p{L}+0-9+_ */
    if (set_ranges(g_word_bits, letters) < 0 ||
        set_ranges(g_word_bits, numeric) < 0 ||
        set_ranges(g_tokw_bits, letters) < 0)
        return NULL;
    for (u32 c = '0'; c <= '9'; c++)
        g_tokw_bits[c >> 3] |= (unsigned char)(1u << (c & 7));
    g_tokw_bits['_' >> 3] |= (unsigned char)(1u << ('_' & 7));

    for (Py_ssize_t i = 0; i < PyUnicode_GET_LENGTH(go_space); i++) {
        u32 c = (u32)PyUnicode_READ_CHAR(go_space, i);
        g_space_bits[c >> 3] |= (unsigned char)(1u << (c & 7));
    }

    for (u32 c = 0; c < 128; c++)
        g_ascii_cls[c] = (unsigned char)(
            (bit_test(g_space_bits, c) ? CL_SPACE : 0) |
            (bit_test(g_tokw_bits, c) ? CL_TOKW : 0) |
            (bit_test(g_word_bits, c) ? CL_WORD : 0) |
            (strchr(TOKEN_PUNCT, (int)c) && c ? CL_PUNCT : 0) |
            (strchr("?!.-:", (int)c) && c ? CL_TPUNCT : 0) |
            (c == '\'' ? CL_APOS : 0) |
            (c == '<' || c == '&' ? CL_STOP : 0));
    for (u32 c = 128; c < 0x10000; c++)
        g_bmp_cls[c] = (unsigned char)(
            (bit_test(g_space_bits, c) ? CL_SPACE : 0) |
            (bit_test(g_tokw_bits, c) ? CL_TOKW : 0) |
            (bit_test(g_word_bits, c) ? CL_WORD : 0) |
            (c == INVIS ? CL_INVIS : 0));
    for (int si = 0; si < 6; si++)
        for (const char *q = SEP_SETS[si]; *q; q++)
            g_sep[si][(unsigned char)*q] = 1;

    Py_INCREF(entities);
    g_entities = entities;

    /* atoms FIRST so atom_id assignment covers every interned name */
    if (mark_names(atoms, PROP_ATOM, 0) < 0 ||
        mark_names(raw_tags, PROP_RAW, 0) < 0 ||
        mark_names(rcdata, PROP_RCDATA, 0) < 0 ||
        mark_names(sbsc, PROP_SBSC, 0) < 0)
        return NULL;

    /* tag actions: {name: action_int} */
    PyObject *k, *v;
    Py_ssize_t pos = 0;
    while (PyDict_Next(actions, &pos, &k, &v)) {
        Py_ssize_t len;
        const char *name = PyUnicode_AsUTF8AndSize(k, &len);
        long act = PyLong_AsLong(v);
        if (!name || PyErr_Occurred())
            return NULL;
        int idx = tag_insert(name, len);
        if (idx < 0)
            return NULL;
        g_tags[idx].action = (int)act;
    }

    /* block labels: {name: (label_int, ...)} max 2 */
    pos = 0;
    while (PyDict_Next(labels, &pos, &k, &v)) {
        Py_ssize_t len;
        const char *name = PyUnicode_AsUTF8AndSize(k, &len);
        if (!name)
            return NULL;
        int idx = tag_insert(name, len);
        if (idx < 0)
            return NULL;
        Py_ssize_t nl = PyTuple_GET_SIZE(v);
        if (nl > 2) {
            PyErr_SetString(PyExc_ValueError, "too many block labels");
            return NULL;
        }
        for (Py_ssize_t t = 0; t < nl; t++) {
            long lv = PyLong_AsLong(PyTuple_GET_ITEM(v, t));
            if (PyErr_Occurred())
                return NULL;
            g_tags[idx].labels[t] = (int)lv;
        }
        g_tags[idx].nlabels = (int)nl;
    }

    g_ready = 1;
    Py_RETURN_NONE;
}

static void parser_free(Parser *p)
{
    buf_free(&p->text_tmp);
    buf_free(&p->attr_tmp);
    buf_free(&p->attr_val);
}

/* convert the C block array to a Python list of
 * (text, nw, nlw, nwiwl, nwl, off_s, off_e, tag_level, is_content,
 *  ((label, count), ...)) tuples */
static PyObject *blocks_to_py(Handler *h)
{
    PyObject *lst = PyList_New(h->nblocks);
    if (!lst)
        return NULL;
    for (Py_ssize_t i = 0; i < h->nblocks; i++) {
        CBlock *cb = h->blocks[i];
        PyObject *text = str_from_u32(cb->text, cb->text_len);
        if (!text) {
            Py_DECREF(lst);
            return NULL;
        }
        int npairs = 0;
        for (int t = 0; t < N_LABELS; t++)
            if (cb->labels[t])
                npairs++;
        PyObject *labels = PyTuple_New(npairs);
        if (!labels) {
            Py_DECREF(text);
            Py_DECREF(lst);
            return NULL;
        }
        int w = 0;
        for (int t = 0; t < N_LABELS; t++)
            if (cb->labels[t]) {
                PyObject *pair = Py_BuildValue("(il)", t, cb->labels[t]);
                if (!pair) {
                    Py_DECREF(text);
                    Py_DECREF(labels);
                    Py_DECREF(lst);
                    return NULL;
                }
                PyTuple_SET_ITEM(labels, w++, pair);
            }
        PyObject *blk = Py_BuildValue(
            "(NlllllllNN)", text, cb->num_words, cb->num_linked_words,
            cb->nwiwl, cb->nwl, cb->off_start, cb->off_end,
            (long)cb->tag_level,
            PyBool_FromLong(cb->is_content), labels);
        if (!blk) {
            Py_DECREF(lst);
            return NULL;
        }
        PyList_SET_ITEM(lst, i, blk);
    }
    return lst;
}

/* Go html.EscapeString: the extra chars each escaped ASCII char takes
 * & -> &amp;  ' -> &#39;  " -> &#34;  (+4),  < -> &lt;  > -> &gt;  (+3) */
static const unsigned char ESC_EXTRA[128] = {
    ['&'] = 4, ['\''] = 4, ['"'] = 4, ['<'] = 3, ['>'] = 3,
};

static inline int is_strip_nl(u32 c) { return c == ' ' || c == '\n'; }

/* The span Content() renders (boilerpipe.go:76-106 Text(true,false)):
 * the '\n'-join of the is_content texts stripped of ' '/'\n' at both
 * ends is content block b0 from char lo to content block b1's char hi.
 * Returns 0 when it is empty.  *n_content counts the content blocks. */
static int content_span(const Handler *h, Py_ssize_t *b0p, Py_ssize_t *b1p,
                        Py_ssize_t *lop, Py_ssize_t *hip, long *n_content)
{
    Py_ssize_t b0 = -1, b1 = -1, lo = 0, hi = 0;
    long nc = 0;
    for (Py_ssize_t i = 0; i < h->nblocks; i++) {
        const CBlock *cb = h->blocks[i];
        if (!cb->is_content)
            continue;
        nc++;
        Py_ssize_t k = 0;
        if (b0 < 0) {
            while (k < cb->text_len && is_strip_nl(cb->text[k]))
                k++;
            if (k == cb->text_len)
                continue; /* all of it stripped, separators too */
            b0 = i;
            lo = k;
        }
        for (k = cb->text_len; k > 0 && is_strip_nl(cb->text[k - 1]); k--)
            ;
        if (k > (i == b0 ? lo : 0)) {
            b1 = i;
            hi = k;
        }
    }
    *n_content = nc;
    *b0p = b0;
    *b1p = b1;
    *lop = lo;
    *hip = hi;
    return b0 >= 0;
}

typedef struct {
    char *p;
    Py_ssize_t len, cap;
} Bytes;

static int bytes_reserve(Bytes *b, Py_ssize_t need)
{
    if (b->len + need <= b->cap)
        return 0;
    Py_ssize_t ncap = b->cap ? b->cap : 256;
    while (ncap < b->len + need)
        ncap *= 2;
    char *np = (char *)PyMem_Realloc(b->p, (size_t)ncap);
    if (!np) {
        PyErr_NoMemory();
        return -1;
    }
    b->p = np;
    b->cap = ncap;
    return 0;
}

/* how put_utf8 writes a lone surrogate: as U+FFFD; a surrogateescape
 * char (U+DC80..U+DCFF) as its raw byte, as str.encode("utf-8",
 * "surrogateescape") writes it, and any other as U+FFFD; or as its three
 * bytes, as str.encode("utf-8", "surrogatepass") writes it */
enum { SUR_FFFD, SUR_RAW, SUR_PASS };

/* c as UTF-8, a lone surrogate written the sur way */
static inline char *put_utf8(char *o, u32 c, int sur)
{
    if (c < 0x80) {
        *o++ = (char)c;
    } else if (c < 0x800) {
        *o++ = (char)(0xC0 | (c >> 6));
        *o++ = (char)(0x80 | (c & 0x3F));
    } else if (c >= 0xD800 && c <= 0xDFFF && sur != SUR_PASS) {
        if (sur == SUR_RAW && c >= 0xDC80 && c <= 0xDCFF) {
            *o++ = (char)(c - 0xDC00);
        } else {
            *o++ = (char)0xEF;
            *o++ = (char)0xBF;
            *o++ = (char)0xBD;
        }
    } else if (c < 0x10000) {
        *o++ = (char)(0xE0 | (c >> 12));
        *o++ = (char)(0x80 | ((c >> 6) & 0x3F));
        *o++ = (char)(0x80 | (c & 0x3F));
    } else {
        *o++ = (char)(0xF0 | (c >> 18));
        *o++ = (char)(0x80 | ((c >> 12) & 0x3F));
        *o++ = (char)(0x80 | ((c >> 6) & 0x3F));
        *o++ = (char)(0x80 | (c & 0x3F));
    }
    return o;
}

/* Content() (boilerpipe.go:76-106 Text(true,false)) as UTF-8 at the end
 * of out, in one pass over the content span, escaping & ' < > " exactly
 * like document.py go_escape_string; a lone surrogate written the sur
 * way */
static int put_content(Bytes *out, const Handler *h, int sur)
{
    Py_ssize_t b0, b1, lo, hi;
    long nc;
    if (!content_span(h, &b0, &b1, &lo, &hi, &nc))
        return 0;
    for (Py_ssize_t i = b0; i <= b1; i++) {
        const CBlock *cb = h->blocks[i];
        if (!cb->is_content)
            continue;
        Py_ssize_t e = i == b1 ? hi : cb->text_len;
        Py_ssize_t k = i == b0 ? lo : 0;
        /* "&amp;" and "&#39;" take 5 bytes, any other char at most 4 */
        if (bytes_reserve(out, 1 + 5 * (e - k)) < 0)
            return -1;
        char *o = out->p + out->len;
        if (i > b0)
            *o++ = '\n';
        for (; k < e; k++) {
            u32 c = cb->text[k];
            if (c >= 128) {
                o = put_utf8(o, c, sur);
            } else if (!ESC_EXTRA[c]) {
                *o++ = (char)c;
            } else {
                const char *rep = c == '&'    ? "&amp;"
                                  : c == '\'' ? "&#39;"
                                  : c == '"'  ? "&#34;"
                                  : c == '<'  ? "&lt;"
                                              : "&gt;";
                while (*rep)
                    *o++ = *rep++;
            }
        }
        out->len = o - out->p;
    }
    return 0;
}

/* Content() rendered straight from the filtered block array: the
 * per-block Python tuples and TextBlock objects are never made, since
 * extract_content only needs (content, n_blocks, n_content).  The UTF-8
 * is put_content's, every lone surrogate passed through so that the
 * decode gives back each char. */
static PyObject *render_content(Handler *h, long *n_blocks, long *n_content)
{
    Py_ssize_t b0, b1, lo, hi;
    Bytes out = {0};
    *n_blocks = (long)h->nblocks;
    content_span(h, &b0, &b1, &lo, &hi, n_content);
    if (put_content(&out, h, SUR_PASS) < 0) {
        PyMem_Free(out.p);
        return NULL;
    }
    PyObject *res =
        PyUnicode_DecodeUTF8(out.p ? out.p : "", out.len, "surrogatepass");
    PyMem_Free(out.p);
    return res;
}

/* parse s[0..n) into h (handler.py events, then parse_document's final
 * flush_block); p and h keep their buffers from the last document */
static int parse_doc(Parser *p, Handler *h, const u32 *s, Py_ssize_t n)
{
    p->s = s;
    p->n = n;
    p->i = 0;
    p->raw = NULL;
    h_start(h);
    if (run_parse(p, h) < 0)
        return -1;
    return flush_block(h);
}

static PyObject *title_str(const Handler *h)
{
    return h->has_title ? str_from_u32(h->title.p, h->title.len)
                        : PyUnicode_New(0, 0);
}

/* a new reference to the list, or to a new empty list for NULL */
static PyObject *list_or_empty(PyObject *lst)
{
    if (!lst)
        return PyList_New(0);
    Py_INCREF(lst);
    return lst;
}

/* the Article pipeline with F2 matching the str filter_title */
static int filter_doc(Handler *h, PyObject *filter_title)
{
    Py_ssize_t tn = PyUnicode_GET_LENGTH(filter_title);
    Py_UCS4 *tb = PyUnicode_AsUCS4Copy(filter_title);
    int rc = tb ? run_article_pipeline(h, (const u32 *)tb, tn) : -1;
    PyMem_Free(tb);
    return rc;
}

enum { MODE_PARSE, MODE_BLOCKS, MODE_CONTENT };

/* The one per-document driver.  MODE_PARSE returns the raw blocks:
 *   (title, blocks, ld_json, datetimes)
 * MODE_BLOCKS and MODE_CONTENT also run the Article pipeline.  On a page
 * with ld+json the merged headline decides what F2 matches
 * (boilerpipe.go:47-73), so the driver calls
 * resolve(title, ld_json) -> (filter_title: str, merged) once, between
 * parsing and filtering, and filters with filter_title; merged is handed
 * back unchanged as the last item, None when resolve was not called:
 *   MODE_BLOCKS:  (title, blocks, datetimes, merged)
 *   MODE_CONTENT: (title, content, n_blocks, n_content, datetimes, merged)
 * title is the raw <title> text ('' when absent). */
static PyObject *run_document(PyObject *html, int mode, PyObject *resolve)
{
    if (!g_ready) {
        PyErr_SetString(PyExc_RuntimeError, "init_tables() not called");
        return NULL;
    }
    Py_ssize_t n = PyUnicode_GET_LENGTH(html);
    Py_UCS4 *buf = PyUnicode_AsUCS4Copy(html);
    if (!buf)
        return NULL;

    Parser p;
    memset(&p, 0, sizeof(p));
    Handler h;
    h_init(&h);

    int rc = parse_doc(&p, &h, (const u32 *)buf, n);
    PyObject *title = NULL, *merged = Py_None;
    Py_INCREF(Py_None);
    if (rc == 0) {
        title = title_str(&h);
        if (!title)
            rc = -1;
    }
    if (rc == 0 && mode != MODE_PARSE) {
        PyObject *filter_title = title, *res = NULL;
        if (h.ld_json) {
            res = PyObject_CallFunctionObjArgs(resolve, title, h.ld_json,
                                               NULL);
            if (!res) {
                rc = -1;
            } else if (!PyTuple_Check(res) || PyTuple_GET_SIZE(res) != 2 ||
                       !PyUnicode_Check(PyTuple_GET_ITEM(res, 0))) {
                PyErr_SetString(PyExc_TypeError,
                                "resolve must return (str, object)");
                rc = -1;
            } else {
                filter_title = PyTuple_GET_ITEM(res, 0);
                Py_DECREF(merged);
                merged = PyTuple_GET_ITEM(res, 1);
                Py_INCREF(merged);
            }
        }
        if (rc == 0)
            rc = filter_doc(&h, filter_title);
        Py_XDECREF(res);
    }

    PyObject *result = NULL;
    if (rc == 0 && mode != MODE_CONTENT) {
        PyObject *blocks = blocks_to_py(&h);
        if (blocks && mode == MODE_PARSE)
            result = Py_BuildValue("(ONNN)", title, blocks,
                                   list_or_empty(h.ld_json),
                                   list_or_empty(h.datetimes));
        else if (blocks)
            result = Py_BuildValue("(ONNO)", title, blocks,
                                   list_or_empty(h.datetimes), merged);
    } else if (rc == 0) {
        long nb = 0, nc = 0;
        PyObject *content = render_content(&h, &nb, &nc);
        if (content)
            result = Py_BuildValue("(ONllNO)", title, content, nb, nc,
                                   list_or_empty(h.datetimes), merged);
    }
    Py_XDECREF(title);
    Py_DECREF(merged);
    h_free(&h);
    parser_free(&p);
    PyMem_Free(buf);
    return result;
}

static PyObject *py_parse(PyObject *Py_UNUSED(self), PyObject *args)
{
    PyObject *html;
    if (!PyArg_ParseTuple(args, "U", &html))
        return NULL;
    return run_document(html, MODE_PARSE, NULL);
}

static PyObject *py_extract(PyObject *Py_UNUSED(self), PyObject *args)
{
    PyObject *html, *resolve;
    if (!PyArg_ParseTuple(args, "UO", &html, &resolve))
        return NULL;
    return run_document(html, MODE_BLOCKS, resolve);
}

static PyObject *py_extract_content(PyObject *Py_UNUSED(self), PyObject *args)
{
    PyObject *html, *resolve;
    if (!PyArg_ParseTuple(args, "UO", &html, &resolve))
        return NULL;
    return run_document(html, MODE_CONTENT, resolve);
}

/* ------------------------------------------------------------------ */
/* extract_batch: one call per Arrow batch, UTF-8 in and out           */
/* ------------------------------------------------------------------ */

/* The well-formed UTF-8 sequence at b[0..m) (Unicode Table 3-7): returns
 * its length, or 0 with *bad set to the length of the maximal subpart of
 * a well-formed sequence that starts there (at least 1). */
static inline int utf8_seq(const unsigned char *b, Py_ssize_t m, int *bad)
{
    unsigned c = b[0], lo = 0x80, hi = 0xBF;
    int need;
    if (c < 0x80)
        return 1;
    if (c >= 0xC2 && c <= 0xDF) {
        need = 1;
    } else if (c >= 0xE0 && c <= 0xEF) {
        need = 2;
        if (c == 0xE0)
            lo = 0xA0;
        else if (c == 0xED)
            hi = 0x9F; /* no encoded surrogates */
    } else if (c >= 0xF0 && c <= 0xF4) {
        need = 3;
        if (c == 0xF0)
            lo = 0x90;
        else if (c == 0xF4)
            hi = 0x8F; /* nothing above U+10FFFF */
    } else {
        *bad = 1;
        return 0;
    }
    int k = 1;
    for (; k <= need && k < m; k++) {
        if (b[k] < lo || b[k] > hi)
            break;
        lo = 0x80;
        hi = 0xBF;
    }
    if (k > need)
        return need + 1;
    *bad = k;
    return 0;
}

/* b[0..n) decoded into out, the way bytes.decode("utf-8",
 * "surrogateescape") does: each byte outside a well-formed sequence
 * becomes U+DC00 + byte.  Returns 1 when a byte was escaped, 0 when the
 * strict decode succeeds, -1 on error. */
static int decode_utf8(const unsigned char *b, Py_ssize_t n, Buf *out)
{
    out->len = 0;
    if (buf_reserve(out, n) < 0)
        return -1;
    u32 *o = out->p;
    Py_ssize_t i = 0, w = 0;
    int escaped = 0;
    while (i < n) {
        unsigned c = b[i];
        if (c < 0x80) {
            o[w++] = c;
            i++;
            /* an ASCII run, eight bytes at a time */
            uint64_t q;
            while (i + 8 <= n &&
                   (memcpy(&q, b + i, 8), !(q & 0x8080808080808080ULL))) {
                for (int k = 0; k < 8; k++)
                    o[w + k] = b[i + k];
                w += 8;
                i += 8;
            }
            continue;
        }
        int bad, len = utf8_seq(b + i, n - i, &bad);
        if (len == 2) {
            o[w++] = ((c & 0x1F) << 6) | (b[i + 1] & 0x3F);
        } else if (len == 3) {
            o[w++] = ((c & 0x0F) << 12) | ((u32)(b[i + 1] & 0x3F) << 6) |
                     (b[i + 2] & 0x3F);
        } else if (len == 4) {
            o[w++] = ((c & 0x07) << 18) | ((u32)(b[i + 1] & 0x3F) << 12) |
                     ((u32)(b[i + 2] & 0x3F) << 6) | (b[i + 3] & 0x3F);
        } else {
            /* the rest of a maximal subpart is continuation bytes, which
             * start no sequence: escaping byte by byte escapes it all */
            o[w++] = 0xDC00 + c;
            escaped = 1;
            len = 1;
        }
        i += len;
    }
    out->len = w;
    return escaped;
}

static int put_u32s(Bytes *out, const u32 *s, Py_ssize_t n, int sur)
{
    if (bytes_reserve(out, 4 * n) < 0)
        return -1;
    char *o = out->p + out->len;
    for (Py_ssize_t i = 0; i < n; i++)
        o = put_utf8(o, s[i], sur);
    out->len = o - out->p;
    return 0;
}

static int put_str(Bytes *out, PyObject *str, int sur)
{
    Py_ssize_t n = PyUnicode_GET_LENGTH(str);
    int kind = PyUnicode_KIND(str);
    const void *data = PyUnicode_DATA(str);
    if (bytes_reserve(out, 4 * n) < 0)
        return -1;
    char *o = out->p + out->len;
    for (Py_ssize_t i = 0; i < n; i++)
        o = put_utf8(o, (u32)PyUnicode_READ(kind, data, i), sur);
    out->len = o - out->p;
    return 0;
}

/* out[from..] made valid UTF-8 the way bytes.decode("utf-8", "replace")
 * does: each maximal invalid subpart becomes U+FFFD.  tmp is scratch. */
static int scrub_utf8(Bytes *out, Py_ssize_t from, Bytes *tmp)
{
    Py_ssize_t n = out->len - from;
    tmp->len = 0;
    if (bytes_reserve(tmp, n) < 0)
        return -1;
    memcpy(tmp->p, out->p + from, (size_t)n);
    out->len = from;
    if (bytes_reserve(out, 3 * n) < 0)
        return -1;
    const unsigned char *b = (const unsigned char *)tmp->p;
    char *o = out->p + from;
    for (Py_ssize_t i = 0; i < n;) {
        int bad, len = utf8_seq(b + i, n - i, &bad);
        if (len) {
            memcpy(o, b + i, (size_t)len);
            o += len;
            i += len;
        } else {
            *o++ = (char)0xEF;
            *o++ = (char)0xBF;
            *o++ = (char)0xBD;
            i += bad;
        }
    }
    out->len = o - out->p;
    return 0;
}

/* an Arrow column under construction: validity bits, then int32 offsets
 * and UTF-8 data (strings) or fixed-width values */
typedef struct {
    Bytes valid, offs, data;
    Py_ssize_t nulls;
} Col;

static void col_free(Col *c)
{
    PyMem_Free(c->valid.p);
    PyMem_Free(c->offs.p);
    PyMem_Free(c->data.p);
}

/* room for n rows: validity zeroed (every row null until set); a
 * string column (width 0) gets n + 1 offsets, any other n zeroed values
 * of width bytes */
static int col_init(Col *c, Py_ssize_t n, Py_ssize_t width)
{
    memset(c, 0, sizeof(*c));
    if (bytes_reserve(&c->valid, (n + 7) / 8 + 1) < 0)
        return -1;
    memset(c->valid.p, 0, (size_t)(n + 7) / 8);
    if (!width) {
        if (bytes_reserve(&c->offs, 4 * (n + 1)) < 0)
            return -1;
        memset(c->offs.p, 0, 4); /* offsets[0] */
    } else {
        if (bytes_reserve(&c->data, width * n + 1) < 0)
            return -1;
        memset(c->data.p, 0, (size_t)(width * n));
        c->data.len = width * n;
    }
    return 0;
}

static inline void set_bit(Bytes *v, Py_ssize_t r)
{
    v->p[r >> 3] |= (char)(1 << (r & 7));
}

/* end string row r: valid (its data written) or null (nothing written) */
static int col_end_row(Col *c, Py_ssize_t r, int valid)
{
    if (c->data.len > INT32_MAX) {
        PyErr_SetString(PyExc_OverflowError,
                        "extract_batch: an output column passed 2 GiB");
        return -1;
    }
    int32_t end = (int32_t)c->data.len;
    memcpy(c->offs.p + 4 * (r + 1), &end, 4);
    if (valid)
        set_bit(&c->valid, r);
    else
        c->nulls++;
    return 0;
}

/* (null_count, validity bytes or None, offsets bytes, data bytes) for a
 * string column, (null_count, validity or None, values) otherwise */
static PyObject *col_to_py(Col *c, Py_ssize_t n)
{
    PyObject *valid;
    if (c->nulls) {
        valid = PyBytes_FromStringAndSize(c->valid.p, (n + 7) / 8);
    } else {
        valid = Py_None;
        Py_INCREF(valid);
    }
    if (!valid)
        return NULL;
    /* y# makes None of a NULL pointer: no data is b"" */
    const char *data = c->data.p ? c->data.p : "";
    if (!c->offs.p)
        return Py_BuildValue("(nNy#)", c->nulls, valid, data, c->data.len);
    return Py_BuildValue("(nNy#y#)", c->nulls, valid, c->offs.p,
                         4 * (n + 1), data, c->data.len);
}

enum { C_TITLE, C_AUTHOR, C_DATE, C_CONTENT, C_NB, C_NC, C_ERR, N_COLS };
/* bytes per value of each column, 0 for a string column */
static const Py_ssize_t COL_WIDTH[N_COLS] = {0, 0, 8, 0, 4, 4, 0};

typedef struct {
    Parser p;
    Handler h;
    Buf in;    /* the decoded page */
    Bytes tmp; /* scrub scratch */
    Col col[N_COLS];
} Batch;

/* the row's message: f"{type(e).__name__}: {e}" of the exception set,
 * cleared; NULL (the exception kept) when it is no Exception */
static PyObject *error_message(void)
{
    if (!PyErr_ExceptionMatches(PyExc_Exception))
        return NULL;
    PyObject *type, *value, *tb;
    PyErr_Fetch(&type, &value, &tb);
    PyErr_NormalizeException(&type, &value, &tb);
    PyObject *name = PyObject_GetAttrString(type, "__name__");
    PyObject *text = name ? PyObject_Str(value) : NULL;
    PyObject *msg = text ? PyUnicode_FromFormat("%U: %U", name, text) : NULL;
    if (!msg) { /* the message itself failed: the type's name will do */
        PyErr_Clear();
        msg = PyUnicode_FromString(((PyTypeObject *)type)->tp_name);
    }
    Py_XDECREF(name);
    Py_XDECREF(text);
    Py_XDECREF(type);
    Py_XDECREF(value);
    Py_XDECREF(tb);
    return msg;
}

/* the string str written as the column's value of the current row,
 * scrubbed on a page that was not valid UTF-8 */
static int put_value(Batch *bt, int ci, PyObject *str, const u32 *s,
                     Py_ssize_t n, int scrub)
{
    Bytes *d = &bt->col[ci].data;
    Py_ssize_t from = d->len;
    int sur = scrub ? SUR_RAW : SUR_FFFD;
    if ((str ? put_str(d, str, sur) : put_u32s(d, s, n, sur)) < 0)
        return -1;
    return scrub ? scrub_utf8(d, from, &bt->tmp) : 0;
}

/* One page, decoded into bt->in, extracted into row r of the columns.
 * On a page with ld+json or <time> values (and only there) resolve is
 * called once, between parsing and filtering:
 *   resolve(title, ld_json or None, datetimes or None)
 *       -> (title: str, author: str, date: int | None, content: str | None)
 * F2 matches the title it returns; date is microseconds since the epoch
 * (UTC); a str content replaces the rendered one. */
static int extract_row(Batch *bt, Py_ssize_t r, int scrub, PyObject *resolve)
{
    Handler *h = &bt->h;
    if (parse_doc(&bt->p, h, bt->in.p, bt->in.len) < 0)
        return -1;
    PyObject *res = NULL, *title = NULL, *author = NULL, *content = NULL;
    PyObject *date = Py_None;
    int rc = -1;
    if (h->ld_json || h->datetimes) {
        PyObject *t = title_str(h);
        if (!t)
            return -1;
        res = PyObject_CallFunctionObjArgs(
            resolve, t, h->ld_json ? h->ld_json : Py_None,
            h->datetimes ? h->datetimes : Py_None, NULL);
        Py_DECREF(t);
        if (!res)
            return -1;
        if (!PyTuple_Check(res) || PyTuple_GET_SIZE(res) != 4 ||
            !PyUnicode_Check(title = PyTuple_GET_ITEM(res, 0)) ||
            !PyUnicode_Check(author = PyTuple_GET_ITEM(res, 1)) ||
            !((date = PyTuple_GET_ITEM(res, 2)) == Py_None ||
              PyLong_Check(date)) ||
            !((content = PyTuple_GET_ITEM(res, 3)) == Py_None ||
              PyUnicode_Check(content))) {
            PyErr_SetString(PyExc_TypeError,
                            "resolve must return (str, str, int | None, "
                            "str | None)");
            goto done;
        }
        if (content == Py_None)
            content = NULL;
        if (filter_doc(h, title) < 0)
            goto done;
    } else if (run_article_pipeline(h, h->title.p,
                                    h->has_title ? h->title.len : 0) < 0) {
        return -1;
    }

    long long us = 0;
    if (date != Py_None) {
        us = PyLong_AsLongLong(date);
        if (us == -1 && PyErr_Occurred())
            goto done;
    }
    long n_content;
    Py_ssize_t b0, b1, lo, hi;
    content_span(h, &b0, &b1, &lo, &hi, &n_content);
    if (put_value(bt, C_TITLE, title, h->title.p,
                  h->has_title ? h->title.len : 0, scrub) < 0 ||
        (author && put_value(bt, C_AUTHOR, author, NULL, 0, scrub) < 0))
        goto done;
    if (content) {
        if (put_value(bt, C_CONTENT, content, NULL, 0, scrub) < 0)
            goto done;
    } else {
        Bytes *d = &bt->col[C_CONTENT].data;
        Py_ssize_t from = d->len;
        if (put_content(d, h, scrub ? SUR_RAW : SUR_FFFD) < 0 ||
            (scrub && scrub_utf8(d, from, &bt->tmp) < 0))
            goto done;
    }
    int32_t nb = (int32_t)h->nblocks, nc = (int32_t)n_content;
    memcpy(bt->col[C_NB].data.p + 4 * r, &nb, 4);
    memcpy(bt->col[C_NC].data.p + 4 * r, &nc, 4);
    if (date != Py_None) {
        memcpy(bt->col[C_DATE].data.p + 8 * r, &us, 8);
        set_bit(&bt->col[C_DATE].valid, r);
    } else {
        bt->col[C_DATE].nulls++;
    }
    rc = 0;
done:
    Py_XDECREF(res);
    return rc;
}

static PyObject *py_extract_batch(PyObject *Py_UNUSED(self), PyObject *args)
{
    Py_ssize_t n, off;
    PyObject *validity, *resolve;
    Py_buffer offsets, data;
    if (!PyArg_ParseTuple(args, "nnOy*y*O", &n, &off, &validity, &offsets,
                          &data, &resolve))
        return NULL;
    PyObject *result = NULL;
    Py_buffer vbuf = {0};
    int have_v = 0;
    Batch *bt = (Batch *)PyMem_Calloc(1, sizeof(Batch));
    if (!bt) {
        PyErr_NoMemory();
        goto out;
    }
    h_init(&bt->h);
    if (!g_ready) {
        PyErr_SetString(PyExc_RuntimeError, "init_tables() not called");
        goto out;
    }
    if (validity != Py_None) {
        if (PyObject_GetBuffer(validity, &vbuf, PyBUF_SIMPLE) < 0)
            goto out;
        have_v = 1;
    }
    const unsigned char *bits = (const unsigned char *)vbuf.buf;
    const int32_t *ofs = (const int32_t *)offsets.buf;
    const unsigned char *bytes = (const unsigned char *)data.buf;
    if (n < 0 || off < 0 || offsets.len < 4 * (off + n + 1) ||
        (have_v && vbuf.len < (off + n + 7) / 8)) {
        PyErr_SetString(PyExc_ValueError,
                        "extract_batch: buffers shorter than the array");
        goto out;
    }
    for (int ci = 0; ci < N_COLS; ci++)
        if (col_init(&bt->col[ci], n, COL_WIDTH[ci]) < 0)
            goto out;

    for (Py_ssize_t r = 0; r < n; r++) {
        Py_ssize_t idx = off + r;
        int32_t b0 = ofs[idx], b1 = ofs[idx + 1];
        PyObject *msg = NULL;
        Py_ssize_t mark[N_COLS];
        for (int ci = 0; ci < N_COLS; ci++)
            mark[ci] = bt->col[ci].data.len;
        if (have_v && !((bits[idx >> 3] >> (idx & 7)) & 1)) {
            msg = PyUnicode_FromString("html is null");
            if (!msg)
                goto out;
        } else {
            if (b0 < 0 || b1 < b0 || b1 > data.len) {
                PyErr_SetString(PyExc_ValueError,
                                "extract_batch: offsets out of range");
                goto out;
            }
            int scrub = decode_utf8(bytes + b0, b1 - b0, &bt->in);
            if (scrub < 0 || extract_row(bt, r, scrub, resolve) < 0) {
                msg = error_message();
                if (!msg)
                    goto out; /* no Exception: the batch fails */
                for (int ci = 0; ci < N_COLS; ci++)
                    if (!COL_WIDTH[ci])
                        bt->col[ci].data.len = mark[ci];
            }
        }
        if (msg) {
            /* an error row: title, author, content and date are null, and
             * extract_row wrote no value before it failed */
            bt->col[C_DATE].nulls++;
            /* scrubbed like document._scrub */
            int rc = put_value(bt, C_ERR, msg, NULL, 0, 1);
            Py_DECREF(msg);
            if (rc < 0 || col_end_row(&bt->col[C_ERR], r, 1) < 0 ||
                col_end_row(&bt->col[C_TITLE], r, 0) < 0 ||
                col_end_row(&bt->col[C_AUTHOR], r, 0) < 0 ||
                col_end_row(&bt->col[C_CONTENT], r, 0) < 0)
                goto out;
        } else if (col_end_row(&bt->col[C_TITLE], r, 1) < 0 ||
                   col_end_row(&bt->col[C_AUTHOR], r, 1) < 0 ||
                   col_end_row(&bt->col[C_CONTENT], r, 1) < 0 ||
                   col_end_row(&bt->col[C_ERR], r, 0) < 0) {
            goto out;
        }
    }
    result = PyTuple_New(N_COLS);
    if (!result)
        goto out;
    for (int ci = 0; ci < N_COLS; ci++) {
        PyObject *item = col_to_py(&bt->col[ci], n);
        if (!item) {
            Py_CLEAR(result);
            goto out;
        }
        PyTuple_SET_ITEM(result, ci, item);
    }
out:
    if (bt) {
        for (int ci = 0; ci < N_COLS; ci++)
            col_free(&bt->col[ci]);
        h_free(&bt->h);
        parser_free(&bt->p);
        buf_free(&bt->in);
        PyMem_Free(bt->tmp.p);
        PyMem_Free(bt);
    }
    if (have_v)
        PyBuffer_Release(&vbuf);
    PyBuffer_Release(&offsets);
    PyBuffer_Release(&data);
    return result;
}

static PyMethodDef ckernel_methods[] = {
    {"init_tables", py_init_tables, METH_VARARGS,
     "Install the shared kernel tables (idempotent)."},
    {"parse", py_parse, METH_VARARGS,
     "parse(html) -> (title, raw_blocks, ld_json, datetimes)"},
    {"extract", py_extract, METH_VARARGS,
     "extract(html, resolve) -> (title, blocks, datetimes, merged) -- "
     "parse + Article pipeline; resolve(title, ld_json) -> "
     "(filter_title, merged) is called once on pages with ld+json"},
    {"extract_content", py_extract_content, METH_VARARGS,
     "extract_content(html, resolve) -> (title, content, n_blocks, "
     "n_content, datetimes, merged) -- extract + C-side Content() "
     "rendering, no block tuples"},
    {"extract_batch", py_extract_batch, METH_VARARGS,
     "extract_batch(n, offset, validity, offsets, data, resolve) -> "
     "(title, author, date, content, n_blocks, n_content, parse_error) "
     "-- one Arrow binary/string column of html in, the output columns' "
     "Arrow buffers out"},
    {NULL, NULL, 0, NULL},
};

static struct PyModuleDef ckernel_module = {
    PyModuleDef_HEAD_INIT, "_ckernel",
    "Compiled boilerpipe kernel hot path (see module docstring in the .c).",
    -1, ckernel_methods, NULL, NULL, NULL, NULL,
};

PyMODINIT_FUNC PyInit__ckernel(void)
{
    return PyModule_Create(&ckernel_module);
}
