/* The native tier of htmltext.segment_html. segscan is html.parser's
 * tokenizing (the CPython 3.11 patterns that htmltext._html_parser_compatible
 * checks at import) and the _Segmenter state machine in one pass over the
 * UTF-8 document.
 *
 * Faithful-or-bail: every construct is handled exactly as html.parser
 * feeding _Segmenter handles it, or the call returns SEG_BAIL and the
 * document takes the stdlib parser. It bails on
 *   - a '<' that starts no tag, end tag, comment, declaration or processing
 *     instruction (html.parser's recovery treats it as text), an end tag
 *     that does not match endtagfind, a marked section ('<![') and any
 *     markup left unterminated;
 *   - a start tag holding '<', or a quoted '<' or '>'; attribute text that
 *     attrfind_tolerant leaves unconsumed (html.parser demotes the tag to
 *     text) or whose quotes it pairs differently from a left-to-right match;
 *   - a start-tag name outside [A-Za-z0-9_.:-];
 *   - a non-ASCII whitespace character, or one that matches an ASCII letter
 *     case-insensitively, anywhere html.parser's regexes test for whitespace
 *     or letters (start-tag attribute text, end tags, comment and CDATA
 *     closes): Python's \s and IGNORECASE are Unicode-aware;
 *   - '&' in a class, id or style value (html.parser unescapes it);
 *   - a text chunk made only of numeric character references that
 *     html.unescape drops (handle_data ignores an empty chunk);
 *   - more than MAX_DEPTH open kill or boilerplate tags.
 *
 * Output: one (start, end, tag) int32 triple per text chunk of a KEPT
 * segment, in document order; start/end are code-point offsets into the
 * Python str and tag = segment_index << 1 | inside_link. The caller builds
 * the Segments and unescapes chunks holding '&'.
 *
 * Plain C, no Python headers: built as a shared library and called through
 * ctypes, one segscan call per document.
 */

#include <stdint.h>
#include <string.h>

#define SEG_BAIL (-1)
#define MAX_DEPTH 4096

enum { T_KILL = 1, T_BLOCK = 2, T_A = 4, T_CDATA = 8 };

/* non-ASCII code points that Python's regexes treat specially: str.isspace()
 * whitespace, and the four that IGNORECASE matches to an ASCII letter */
const uint32_t segscan_danger[] = {
    0x85, 0xa0, 0x130, 0x131, 0x17f, 0x1680, 0x2000, 0x2001, 0x2002, 0x2003,
    0x2004, 0x2005, 0x2006, 0x2007, 0x2008, 0x2009, 0x200a, 0x2028, 0x2029,
    0x202f, 0x205f, 0x212a, 0x3000,
};
const int segscan_n_danger = sizeof segscan_danger / sizeof segscan_danger[0];

/* KILL_TAGS, BLOCK_TAGS and "a", sorted by length: BY_LEN[k] is the first
 * entry of length >= k. An entry's index is its kill-stack id. */
static const struct { const char *name; int cls; } TAGS[] = {
    {"p", T_BLOCK}, {"a", T_A}, {"li", T_BLOCK}, {"ul", T_BLOCK},
    {"ol", T_BLOCK}, {"h1", T_BLOCK}, {"h2", T_BLOCK}, {"h3", T_BLOCK},
    {"h4", T_BLOCK}, {"h5", T_BLOCK}, {"h6", T_BLOCK}, {"td", T_BLOCK},
    {"th", T_BLOCK}, {"tr", T_BLOCK}, {"dd", T_BLOCK}, {"dt", T_BLOCK},
    {"dl", T_BLOCK}, {"br", T_BLOCK}, {"hr", T_BLOCK}, {"svg", T_KILL},
    {"nav", T_KILL}, {"div", T_BLOCK}, {"pre", T_BLOCK}, {"head", T_KILL},
    {"math", T_KILL}, {"form", T_KILL}, {"menu", T_KILL}, {"main", T_BLOCK},
    {"body", T_BLOCK}, {"style", T_KILL | T_CDATA}, {"title", T_KILL},
    {"embed", T_KILL}, {"aside", T_KILL}, {"table", T_BLOCK},
    {"thead", T_BLOCK}, {"tbody", T_BLOCK}, {"script", T_KILL | T_CDATA},
    {"iframe", T_KILL}, {"object", T_KILL}, {"button", T_KILL},
    {"select", T_KILL}, {"option", T_KILL}, {"footer", T_KILL},
    {"header", T_KILL}, {"dialog", T_KILL}, {"article", T_BLOCK},
    {"section", T_BLOCK}, {"noscript", T_KILL}, {"template", T_KILL},
    {"textarea", T_KILL}, {"blockquote", T_BLOCK}, {"figcaption", T_BLOCK},
};
#define LONGEST_TAG 10
static const int BY_LEN[LONGEST_TAG + 2] = {
    0, 0, 2, 19, 23, 29, 36, 45, 47, 50, 50, 52,
};

static const struct { const char *word; int len; } BOILER_WORDS[] = {
    {"nav", 3}, {"menu", 4}, {"footer", 6}, {"header", 6}, {"sidebar", 7},
    {"sitemap", 7}, {"comment", 7}, {"comments", 8}, {"ad", 2}, {"ads", 3},
    {"advert", 6}, {"banner", 6}, {"breadcrumb", 10}, {"breadcrumbs", 11},
    {"related", 7}, {"share", 5}, {"social", 6}, {"promo", 5}, {"widget", 6},
    {"cookie", 6}, {"copyright", 9}, {"disclaimer", 10},
};
#define N_BOILER_WORDS ((int)(sizeof BOILER_WORDS / sizeof BOILER_WORDS[0]))

typedef struct {
    const unsigned char *s;
    long n;
    int ascii;                  /* byte offsets are code-point offsets */
    long cur_b, cur_cp;         /* forward-only byte -> code point cursor */
    int32_t *out;
    long cap, n_out;            /* int32 slots */
    long seg_first;             /* out slot of the current segment's first chunk */
    int cur_parts, cur_killed, kept, a_depth;
    int kill_top, boiler_top;
    unsigned char kill_stack[MAX_DEPTH];
    int32_t boiler_at[MAX_DEPTH];      /* tag name offset into s */
    unsigned char boiler_len[MAX_DEPTH];
} scan_t;

/* Python's \s on ASCII: \t \n \v \f \r, 0x1c-0x1f and space */
static int is_ws(unsigned c)
{
    return (c >= 0x09 && c <= 0x0d) || (c >= 0x1c && c <= 0x20);
}

static int is_alpha(unsigned c)
{
    return (c | 0x20) >= 'a' && (c | 0x20) <= 'z';
}

static int is_name(unsigned c)
{
    return is_alpha(c) || (c >= '0' && c <= '9') || c == '-' || c == '.' ||
           c == ':' || c == '_';
}

static unsigned lower(unsigned c)
{
    return (c >= 'A' && c <= 'Z') ? c + 32 : c;
}

/* is s[0:len] equal to the lowercase ASCII word w, ignoring ASCII case */
static int ci_eq(const unsigned char *s, const char *w, long len)
{
    for (long k = 0; k < len; k++)
        if (lower(s[k]) != (unsigned char)w[k])
            return 0;
    return 1;
}

/* is the UTF-8 sequence starting at s[i] a code point of segscan_danger */
static int danger_at(const scan_t *S, long i)
{
    const unsigned char *p = S->s + i;
    uint32_t cp;
    if (p[0] >= 0xc2 && p[0] <= 0xdf && i + 1 < S->n)
        cp = (uint32_t)(p[0] & 0x1f) << 6 | (p[1] & 0x3f);
    else if (p[0] >= 0xe0 && p[0] <= 0xef && i + 2 < S->n)
        cp = (uint32_t)(p[0] & 0x0f) << 12 | (uint32_t)(p[1] & 0x3f) << 6 |
             (p[2] & 0x3f);
    else
        return 0;
    for (int k = 0; k < segscan_n_danger; k++)
        if (segscan_danger[k] == cp)
            return 1;
    return 0;
}

static int any_danger(const scan_t *S, long a, long b)
{
    for (long i = a; i < b; i++)
        if (S->s[i] >= 0xc0 && danger_at(S, i))
            return 1;
    return 0;
}

static int classify(const unsigned char *name, long len, int *id)
{
    char low[LONGEST_TAG];
    if (len > LONGEST_TAG)
        return 0;
    for (long k = 0; k < len; k++)
        low[k] = (char)lower(name[k]);
    for (int t = BY_LEN[len]; t < BY_LEN[len + 1]; t++)
        if (!memcmp(TAGS[t].name, low, len)) {
            *id = t;
            return TAGS[t].cls;
        }
    return 0;
}

static long code_point(scan_t *S, long b)
{
    if (S->ascii)
        return b;
    for (; S->cur_b < b; S->cur_b++)    /* count all but continuation bytes */
        S->cur_cp += (S->s[S->cur_b] & 0xc0) != 0x80;
    return S->cur_cp;
}

/* ---------------------------------------------------------- _Segmenter */
static int suppressed(const scan_t *S)
{
    return S->kill_top > 0 || S->boiler_top > 0;
}

static void flush(scan_t *S)
{
    int sup = suppressed(S);
    if (S->cur_parts) {
        if (S->cur_killed)
            S->n_out = S->seg_first;    /* a killed segment is never returned */
        else
            S->kept++;
        S->seg_first = S->n_out;
        S->cur_parts = 0;
    }
    S->cur_killed = sup;
}

/* does html.unescape turn the numeric character reference num into '' */
static int vanishing_ref(unsigned long num)
{
    return (num >= 0x01 && num <= 0x08) || num == 0x0b ||
           (num >= 0x0e && num <= 0x1f) || num == 0x7f ||
           (num >= 0xfdd0 && num <= 0xfdef) ||
           (num <= 0x10ffff && (num & 0xfffe) == 0xfffe);
}

static int hex_digit(unsigned c)
{
    return (c >= '0' && c <= '9') || ((c | 0x20) >= 'a' && (c | 0x20) <= 'f');
}

/* is s[a:b] all numeric character references that html.unescape drops */
static int vanishes(const scan_t *S, long a, long b)
{
    const unsigned char *s = S->s;
    long p = a;
    while (p < b) {
        if (p + 2 >= b || s[p] != '&' || s[p + 1] != '#')
            return 0;
        unsigned long num = 0;
        int hex = (s[p + 2] | 0x20) == 'x';
        p += 2 + hex;
        if (p >= b || !(hex ? hex_digit(s[p]) : (s[p] >= '0' && s[p] <= '9')))
            return 0;
        for (; p < b && (hex ? hex_digit(s[p]) : (s[p] >= '0' && s[p] <= '9')); p++) {
            unsigned d = s[p] <= '9' ? s[p] - '0' : (s[p] | 0x20) - 'a' + 10;
            if (num <= 0x10ffff)        /* anything larger maps to U+FFFD */
                num = num * (hex ? 16 : 10) + d;
        }
        if (p < b && s[p] == ';')
            p++;
        if (!vanishing_ref(num))
            return 0;
    }
    return 1;
}

/* handle_data for raw text s[a:b] (non-empty); the caller unescapes it */
static int data(scan_t *S, long a, long b)
{
    if (S->s[a] == '&' && vanishes(S, a, b))
        return SEG_BAIL;                /* '' after unescape: dropped unread */
    if (suppressed(S)) {
        S->cur_killed = 1;
        return 0;
    }
    if (S->n_out + 3 > S->cap)
        return SEG_BAIL;
    S->out[S->n_out++] = (int32_t)code_point(S, a);
    S->out[S->n_out++] = (int32_t)code_point(S, b);
    S->out[S->n_out++] = S->kept << 1 | (S->a_depth > 0);
    S->cur_parts = 1;
    return 0;
}

static int start_tag(scan_t *S, int cls, int id, long name, long len, int boiler)
{
    if (cls & T_KILL) {
        flush(S);
        if (S->kill_top == MAX_DEPTH)
            return SEG_BAIL;
        S->kill_stack[S->kill_top++] = (unsigned char)id;
        return 0;
    }
    if ((cls & T_BLOCK) || boiler)
        flush(S);
    if (boiler) {
        if (S->boiler_top == MAX_DEPTH || len > 255)
            return SEG_BAIL;
        S->boiler_at[S->boiler_top] = (int32_t)name;
        S->boiler_len[S->boiler_top++] = (unsigned char)len;
    }
    if (cls & T_A)
        S->a_depth++;
    return 0;
}

/* is the tag name s[name:name+len] the innermost open boilerplate tag */
static int boiler_top_is(const scan_t *S, long name, long len)
{
    if (S->boiler_top == 0 || S->boiler_len[S->boiler_top - 1] != len)
        return 0;
    const unsigned char *top = S->s + S->boiler_at[S->boiler_top - 1];
    for (long k = 0; k < len; k++)
        if (lower(top[k]) != lower(S->s[name + k]))
            return 0;
    return 1;
}

static void end_tag(scan_t *S, int cls, int id, long name, long len)
{
    if (cls & T_KILL) {
        flush(S);
        int k = S->kill_top;
        while (k > 0 && S->kill_stack[k - 1] != id)
            k--;
        if (k > 0)                      /* pop up to and including the match */
            S->kill_top = k - 1;
        return;
    }
    if (boiler_top_is(S, name, len)) {
        flush(S);
        S->boiler_top--;
    } else if (cls & T_BLOCK) {
        flush(S);
    }
    if ((cls & T_A) && S->a_depth > 0)
        S->a_depth--;
}

/* ------------------------------------------------------ attribute text */
/* _BOILER_ATTR.search(s[a:b]) */
static int boiler_value(const scan_t *S, long a, long b)
{
    const unsigned char *s = S->s;
    for (long p = a; p < b; p++) {
        if (p > a && !(is_ws(s[p - 1]) || s[p - 1] == '_' || s[p - 1] == '-'))
            continue;
        for (int w = 0; w < N_BOILER_WORDS; w++) {
            long len = BOILER_WORDS[w].len;
            if (p + len <= b && ci_eq(s + p, BOILER_WORDS[w].word, len) &&
                (p + len == b || is_ws(s[p + len]) || s[p + len] == '_' ||
                 s[p + len] == '-'))
                return 1;
        }
    }
    return 0;
}

/* _DISPLAY_NONE.search(s[a:b]) */
static int display_none(const scan_t *S, long a, long b)
{
    const unsigned char *s = S->s;
    for (long p = a; p + 7 <= b; p++) {
        if (!ci_eq(s + p, "display", 7))
            continue;
        long q = p + 7;
        while (q < b && is_ws(s[q]))
            q++;
        if (q >= b || s[q] != ':')
            continue;
        q++;
        while (q < b && is_ws(s[q]))
            q++;
        if (q + 4 <= b && ci_eq(s + q, "none", 4))
            return 1;
    }
    return 0;
}

enum { REM_EMPTY, REM_SLASH, REM_OTHER };

/* parse_starttag's attrfind_tolerant loop over the attribute text
 * blob = s[a:b], read as blob2 = " " + blob.lstrip() + ">": the space
 * stands for the whitespace tagfind_tolerant consumed (the lookbehind),
 * the '>' for the tag's close (which the `/(?!>)` tail sees). Sets *boiler to
 * _Segmenter._is_boiler_attrs of the parsed attributes; returns the kind
 * of the unparsed remainder (left-stripped), or SEG_BAIL where the regex
 * would backtrack. */
static int parse_attrs(const scan_t *S, long a, long b, int *boiler)
{
    const unsigned char *s = S->s;
    while (a < b && is_ws(s[a]))
        a++;
    long end = b - a + 1;               /* index of the '>' sentinel */
#define AT(x) ((x) == 0 ? ' ' : (x) >= end ? '>' : s[a + (x) - 1])
    long x = 1;
    *boiler = 0;
    while (x < end) {
        unsigned prev = AT(x - 1), c = AT(x);
        if (!(prev == '\'' || prev == '"' || prev == '/' || is_ws(prev)))
            break;
        if (is_ws(c) || c == '/' || c == '>')
            break;
        long name = x++;
        while (c = AT(x), !(is_ws(c) || c == '/' || c == '=' || c == '>'))
            x++;
        long name_len = x - name, y = x, v0 = -1, v1 = -1;
        while (is_ws(AT(y)))
            y++;
        if (AT(y) == '=') {
            while (AT(y) == '=')
                y++;
            while (is_ws(AT(y)))
                y++;
            unsigned q = AT(y);
            if (q == '\'' || q == '"') {
                long z = y + 1;
                while (z < end && AT(z) != q)
                    z++;
                if (z >= end)           /* the regex would backtrack */
                    return SEG_BAIL;
                v0 = y + 1, v1 = z, x = z + 1;
            } else {
                long z = y;
                while (!(AT(z) == '>' || is_ws(AT(z))))
                    z++;
                v0 = y, v1 = z, x = z;
            }
        }
        while (is_ws(AT(x)) || (AT(x) == '/' && AT(x + 1) != '>'))
            x++;
        if (v0 < 0 || *boiler)
            continue;
        const unsigned char *nm = s + a + name - 1;
        int cls_id = (name_len == 5 && ci_eq(nm, "class", 5)) ||
                     (name_len == 2 && ci_eq(nm, "id", 2));
        int style = name_len == 5 && ci_eq(nm, "style", 5);
        if (!cls_id && !style)
            continue;
        long va = a + v0 - 1, vb = a + v1 - 1;
        if (memchr(s + va, '&', vb - va))
            return SEG_BAIL;
        *boiler = cls_id ? boiler_value(S, va, vb) : display_none(S, va, vb);
    }
    while (x < end && is_ws(AT(x)))     /* blob2[x:end].lstrip() */
        x++;
    if (x == end)
        return REM_EMPTY;
    return (end - x == 1 && AT(x) == '/') ? REM_SLASH : REM_OTHER;
#undef AT
}

/* ------------------------------------------------------------- markup */
/* end of the first '</' \s* word \s* '>' at or after i (IGNORECASE), the
 * start of the match in *at; SEG_BAIL when there is none */
static long cdata_close(const scan_t *S, long i, const unsigned char *word,
                        long len, long *at)
{
    const unsigned char *s = S->s;
    for (;;) {
        const unsigned char *lt = memchr(s + i, '<', S->n - i);
        if (!lt)
            return SEG_BAIL;
        long p = lt - s, q = p + 1;
        i = p + 1;
        if (q >= S->n || s[q] != '/')
            continue;
        q++;
        while (q < S->n && is_ws(s[q]))
            q++;
        if (q < S->n && s[q] >= 0xc0 && danger_at(S, q))
            return SEG_BAIL;
        long k = 0;
        while (k < len && q + k < S->n && lower(s[q + k]) == lower(word[k]))
            k++;
        if (k < len) {
            if (q + k < S->n && s[q + k] >= 0xc0 && danger_at(S, q + k))
                return SEG_BAIL;
            continue;
        }
        q += len;
        while (q < S->n && is_ws(s[q]))
            q++;
        if (q < S->n && s[q] == '>') {
            *at = p;
            return q + 1;
        }
        if (q < S->n && s[q] >= 0xc0 && danger_at(S, q))
            return SEG_BAIL;
    }
}

/* '<' + letter at j: returns the index after the tag (and any CDATA) */
static long scan_start_tag(scan_t *S, long j)
{
    const unsigned char *s = S->s;
    long n = S->n, name = j + 1, q = name + 1;
    for (; q < n; q++) {
        unsigned c = s[q];
        if (c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == ' ' ||
            c == '/' || c == '>' || c == 0)
            break;
        if (!is_name(c))
            return SEG_BAIL;
    }
    long len = q - name, k = q;
    int high = 0;
    for (;;) {                          /* the attribute blob up to its '>' */
        if (k >= n || s[k] == '<')
            return SEG_BAIL;
        unsigned c = s[k];
        if (c == '>')
            break;
        if (c == '"' || c == '\'') {
            long z = k + 1;
            while (z < n && s[z] != c && s[z] != '<' && s[z] != '>') {
                high |= s[z] >= 0x80;
                z++;
            }
            if (z >= n || s[z] != c)
                return SEG_BAIL;
            k = z + 1;
            continue;
        }
        high |= c >= 0x80;
        k++;
    }
    if (high && any_danger(S, q, k))
        return SEG_BAIL;
    /* Parsed in full on every tag, as parse_starttag does: html.parser
     * reads a tag whose attribute text leaves junk, or whose quotes pair
     * up differently (the regex would backtrack), as something else. */
    int boiler = 0, rem = REM_EMPTY;
    if (k > q) {
        rem = parse_attrs(S, q, k, &boiler);
        if (rem == SEG_BAIL || rem == REM_OTHER)
            return SEG_BAIL;
    }
    int id = 0, cls = classify(s + name, len, &id);
    long after = k + 1;
    if (rem == REM_SLASH) {             /* <br/>, <hr/> */
        if (cls & T_BLOCK)
            flush(S);
        return after;
    }
    if (start_tag(S, cls, id, name, len, boiler))
        return SEG_BAIL;
    if (cls & T_CDATA) {                /* script/style: raw text till close */
        long at, close = cdata_close(S, after, s + name, len, &at);
        if (close < 0)
            return SEG_BAIL;
        if (at > after)
            S->cur_killed = 1;          /* data inside a kill tag */
        end_tag(S, cls, id, name, len);
        after = close;
    }
    return after;
}

/* '</' at j: the end tag regex, or SEG_BAIL */
static long scan_end_tag(scan_t *S, long j)
{
    const unsigned char *s = S->s;
    long n = S->n, q = j + 2;
    while (q < n && is_ws(s[q]))
        q++;
    if (q >= n || !is_alpha(s[q]))
        return SEG_BAIL;
    long name = q;
    while (q < n && is_name(s[q]))
        q++;
    long len = q - name;
    while (q < n && is_ws(s[q]))
        q++;
    if (q >= n || s[q] != '>')
        return SEG_BAIL;
    int id = 0, cls = classify(s + name, len, &id);
    end_tag(S, cls, id, name, len);
    return q + 1;
}

/* '<!--' at j: end of the first '--' \s* '>' after it */
static long scan_comment(const scan_t *S, long j)
{
    const unsigned char *s = S->s;
    for (long p = j + 4; p + 1 < S->n; p++) {
        if (s[p] != '-' || s[p + 1] != '-')
            continue;
        long q = p + 2;
        while (q < S->n && is_ws(s[q]))
            q++;
        if (q < S->n && s[q] == '>')
            return q + 1;
        if (q < S->n && s[q] >= 0xc0 && danger_at(S, q))
            return SEG_BAIL;
    }
    return SEG_BAIL;
}

static long scan_markup(scan_t *S, long j)
{
    const unsigned char *s = S->s;
    long n = S->n;
    if (j + 1 >= n)
        return SEG_BAIL;                /* '<' at the end */
    unsigned c = s[j + 1];
    if (is_alpha(c))
        return scan_start_tag(S, j);
    if (c == '/')
        return scan_end_tag(S, j);
    if (c == '!' && j + 3 < n && s[j + 2] == '-' && s[j + 3] == '-')
        return scan_comment(S, j);
    if (c == '!' || c == '?') {         /* declaration or processing instruction */
        const unsigned char *gt = memchr(s + j, '>', n - j);
        if (!gt || (c == '!' && memchr(s + j, '[', gt - (s + j))))
            return SEG_BAIL;            /* '[' would be a marked section */
        return gt - s + 1;
    }
    return SEG_BAIL;                    /* stray '<' in text */
}

/* Segment the UTF-8 document s[0:n]; ascii says it has no byte >= 0x80.
 * Writes (start, end, tag) triples to out (cap int32 slots) and returns
 * their count, or SEG_BAIL. */
long segscan(const char *doc, long n, int ascii, int32_t *out, long cap)
{
    scan_t S;                           /* the stacks need no zeroing */
    S.s = (const unsigned char *)doc;
    S.n = n;
    S.ascii = ascii;
    S.cur_b = S.cur_cp = 0;
    S.out = out;
    S.cap = cap;
    S.n_out = S.seg_first = 0;
    S.cur_parts = S.cur_killed = S.kept = S.a_depth = 0;
    S.kill_top = S.boiler_top = 0;
    long i = 0;
    while (i < n) {
        const unsigned char *lt = memchr(S.s + i, '<', n - i);
        long j = lt ? lt - S.s : n;
        if (j > i && data(&S, i, j))
            return SEG_BAIL;
        if (!lt)
            break;
        i = scan_markup(&S, j);
        if (i < 0)
            return SEG_BAIL;
    }
    flush(&S);
    return S.n_out / 3;
}
