/* Native core for fortissimo_spark: the parse scan, node storage, tree
 * and table repair, density extraction and the one-call extract page.
 *
 * scan() is the parse core for fortissimo_spark.parser (HTML mode, with
 * or without positions: nodes hold source offsets, and line and column
 * are worked out from them in Python when read).  It reads the document
 * from a token boundary, consumes every token it owns and adds the same
 * nodes to DocBuilder.nodes (and the same indices to open_stack) that the
 * Python general machine would.  It returns at the first token it does not
 * own; parse() reads that one token with the general machine and calls
 * back in.  Tree repair runs here too: an end tag that is not on top of
 * the stack takes DocBuilder.pop's path in repair() (the stack scan, the
 * formatting/marker block, the unwind and the unmatched-close leaf), and
 * a closing table takes DocBuilder._examine_table's in examine_table()
 * (the synthetic tr, thead and tbody wrappers), so the scan calls no
 * Python for the tree.
 *
 * What the core stores.  DocBuilder.nodes is a NodeStore (see "node
 * storage" below), a sequence and nothing more: the scan, repair() and
 * examine_table() fill an array of node structs (kind, closure and flags,
 * parent, first-child and next-sibling links, source offsets, end_at, the
 * interned tag and end-tag strings, the attribute spans) and build no
 * per-node list, int or content string.  A node's 21-slot record exists
 * only once Python has read nodes[i] (or appended the record itself, as
 * the general machine does): it is built from the struct on that first
 * read, text sliced from the source, and from then on it is the authority
 * for the node.  The core's readers and writers (the scan, repair(),
 * examine_table(), census(), density()) all go through one set of
 * accessors that read the record when there is one and the struct
 * otherwise, so a store that Python never read is read from the structs
 * alone.  census() and density() take only a NodeStore.
 *
 * Owned: text runs (the literal-'<' pairwise quirk, empty_end_tag, the
 * trailing-text EOF error), '<!--' comments (the m % 3 == 2 dash rule),
 * end tags closed by '>', start tags closed by '>', '/>' or a stray '='
 * with any number of attributes, void elements, OPEN_IMPLIES_CLOSE, the
 * math/svg counter and the script/style/textarea raw-text scan.
 * Handed off: other '<!' markup, '<?', end tags cut by EOF or a syntax
 * error, start tags cut by EOF.  While no charset is known, the core
 * sniffs each meta tag: it reads charset= attributes itself and hands a
 * tag with an http-equiv or content attribute to the Python sniff
 * (parser._meta_charset).  The first meta tag that leaves a charset ends
 * the sniff; parse()'s on_charset hook may stop the scan at the end of
 * that tag (the early stop of a charset retry).
 *
 * page() is the extract kernel's row for a page in one call: it runs the
 * scan on a store of its own, with the same on_charset hook as a parse,
 * census(), density(), the line count and the token count, and returns
 * the kernel's parse and extract fields, or None when the scan stops at a
 * hand-off or at the hook's stop (see "the extract page" below).
 *
 * The Python general machine is the reference; tests/test_parser_fastpaths.py
 * checks that a parse through this core equals it, field for field,
 * tests/test_node_store.py that a store read in part, or edited, still
 * does, and tests/test_extract_page.py that page() equals the Python path.
 *
 * What a record holds is kept lean, as in the general machine: an element
 * without attributes holds the one empty tuple in its five N_ATTR_* slots
 * (DocBuilder's attribute mutators make them lists on the first write),
 * and tag names, end-tag texts and attribute names come from a small
 * per-process intern cache (interned_span), so a repeated name costs no new
 * string.
 *
 * density() is extract(strip="density") over the nodes, census() counts
 * the unclosed and implicitly closed elements at the end of a parse, and
 * token_count() is len(text.split()) (see the sections at the end).
 * Python's extract() loop, DocBuilder.count_unclosed_flat and str.split
 * are their references; tests/test_extract_native.py and
 * tests/test_parser_fastpaths.py check that each pair agrees.
 */
#define PY_SSIZE_T_CLEAN
#include <Python.h>
#include <stddef.h>
#include <string.h>

/* node record slots and values: must match fortissimo_spark.dom */
enum {
    N_KIND, N_TAG, N_TAG_LC, N_PARENT, N_CHILDREN, N_CLOSURE, N_CONTENT,
    N_TERMINATED, N_POSS_ENT, N_END_TAG, N_ATTR_NAMES, N_ATTR_VALUES,
    N_ATTR_SPACING, N_ATTR_EQUALS, N_ATTR_QUOTES, N_INNER_WS, N_BAD_TERM,
    N_SYNTHETIC, N_SRC_START, N_SRC_END, N_END_AT, N_SLOTS
};
enum { ELEMENT = 0, TEXT = 1, COMMENT = 2, DECLARATION = 3, DOCTYPE_NODE = 4,
       CDATA = 6, UNMATCHED_CLOSE = 7 };
enum { UNCLOSED = 0, SELF_CLOSED = 1, VOID_CLOSED = 2, EXPLICITLY_CLOSED = 3,
       IMPLICITLY_CLOSED = 4 };

/* the counters read by stats(): one per token branch, then the pages
 * page() settled and those it stopped at a hand-off, the meta tags handed
 * to the Python sniff and the records built on a read */
enum {
    ST_TEXT, ST_COMMENT, ST_DECL, ST_END_TOP, ST_END_UNWIND,
    ST_END_UNMATCHED, ST_START,
    ST_VOID, ST_BAD_TERM, ST_META, ST_RAW_TEXT, ST_RAW_TEXT_EOF,
    ST_OFF_DECL, ST_OFF_PI, ST_OFF_END, ST_OFF_START_EOF,
    ST_SETTLED, ST_HANDOFF, ST_PYTHON_SNIFF, ST_RECORDS,
    ST_COUNT
};
static const char *const STAT_NAMES[ST_COUNT] = {
    "text", "comment", "declaration", "end_top", "end_unwind",
    "end_unmatched", "start",
    "void", "bad_term", "meta_sniff", "raw_text", "raw_text_eof",
    "handoff_decl", "handoff_pi", "handoff_end", "handoff_start_eof",
    "settled", "handoff", "python_sniff", "records",
};
static unsigned long long counts[ST_COUNT];

static PyObject *OPEN_IMPLIES_CLOSE, *VOID_ELEMENTS, *RAW_TEXT_TAGS;
static PyObject *FORMATTING_ELEMENTS, *MARKER_ELEMENTS;
static PyObject *META_CHARSET;  /* parser._meta_charset */
static PyObject *INT[8], *S_EMPTY, *S_DQ, *S_SQ, *S_EQ, *S_LT_SLASH;
static PyObject *T_EMPTY;  /* () */
static PyObject *S_IN_MATH_OR_SVG, *S_LOWER;
static PyObject *S_BLOCK_SEP, *S_ROOT, *S_TR, *S_THEAD, *S_TBODY;

/* the text a scan reads and a store's offsets index */
typedef struct {
    PyObject *t;
    int kind;
    const void *data;
    Py_ssize_t n;
} Src;

static int src_init(Src *s, PyObject *t)
{
    if (PyUnicode_READY(t) < 0)
        return -1;
    s->t = t;
    s->kind = PyUnicode_KIND(t);
    s->data = PyUnicode_DATA(t);
    s->n = PyUnicode_GET_LENGTH(t);
    return 0;
}

#define CH(s, p) PyUnicode_READ((s)->kind, (s)->data, (p))

static inline int is_ws(Py_UCS4 c)
{
    return c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r';
}

/* tag whitespace: HTML whitespace plus astral chars (reference quirk) */
static inline int is_tag_ws(Py_UCS4 c) { return is_ws(c) || c > 0xFFFF; }

static inline int is_markup_start(Py_UCS4 c)
{
    return (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == ':'
        || c == '/' || c == '!' || c == '?';
}

static Py_ssize_t ws_end(const Src *s, Py_ssize_t p)
{
    while (p < s->n && is_tag_ws(CH(s, p)))
        p++;
    return p;
}

static Py_ssize_t find_char(const Src *s, Py_UCS4 ch, Py_ssize_t from)
{
    if (from >= s->n)
        return -1;
    return PyUnicode_FindChar(s->t, ch, from, s->n, 1);
}

static inline int set_slot(PyObject *nd, int slot, PyObject *v)
{
    Py_INCREF(v);
    return PyList_SetItem(nd, slot, v);
}

/* nd[slot] = int(v) */
static int set_int(PyObject *nd, int slot, Py_ssize_t v)
{
    PyObject *o = PyLong_FromSsize_t(v);
    return o == NULL ? -1 : PyList_SetItem(nd, slot, o);
}

/* t[a:b] */
static PyObject *span(const Src *s, Py_ssize_t a, Py_ssize_t b)
{
    return PyUnicode_Substring(s->t, a, b);
}

/* raw.lower() for raw == t[a:b]; the ASCII case without a Python call */
static PyObject *lower_span(const Src *s, Py_ssize_t a, Py_ssize_t b,
                            PyObject *raw)
{
    int upper = 0;
    for (Py_ssize_t p = a; p < b; p++) {
        Py_UCS4 c = CH(s, p);
        if (c >= 128)
            return PyObject_CallMethodNoArgs(raw, S_LOWER);
        upper |= c >= 'A' && c <= 'Z';
    }
    if (!upper) {
        Py_INCREF(raw);
        return raw;
    }
    PyObject *lc = PyUnicode_New(b - a, 127);
    if (lc == NULL)
        return NULL;
    Py_UCS1 *d = PyUnicode_1BYTE_DATA(lc);
    for (Py_ssize_t p = a; p < b; p++) {
        Py_UCS4 c = CH(s, p);
        d[p - a] = (Py_UCS1)(c >= 'A' && c <= 'Z' ? c + 32 : c);
    }
    return lc;
}

/* Interned spans: a per-process, direct-mapped cache of the short spans
 * the scan turns into tag names, end-tag texts and attribute names.  A
 * page repeats a few dozen names, so most spans are hits: the string and
 * its lowercase come from the cache, with their hashes already computed.
 * Only spans of 1-byte-kind text up to INTERN_MAX_LEN chars are cached, by
 * their characters; a miss replaces the entry in its slot.  The strings
 * are immutable and equal to fresh ones, so a parse builds the same
 * records with or without the cache. */
#define INTERN_SLOTS 1024  /* a power of two */
#define INTERN_MAX_LEN 32

/* what the scan asks of a lowercase tag name, looked up once per name */
enum {
    TF_VOID = 1,       /* in VOID_ELEMENTS */
    TF_RAW = 2,        /* in RAW_TEXT_TAGS */
    TF_MATH_SVG = 4,   /* math or svg */
    TF_TABLE = 8,
    TF_META = 16,
};

typedef struct {
    PyObject *closers;  /* OPEN_IMPLIES_CLOSE[name] or NULL (owned) */
    unsigned flags;     /* TF_* */
} TagInfo;

static int is_tag(PyObject *tag_lc, const char *name);

/* the TagInfo of a lowercase tag name */
static int tag_info(PyObject *lc, TagInfo *info)
{
    PyObject *closers = PyDict_GetItemWithError(OPEN_IMPLIES_CLOSE, lc);
    if (closers == NULL && PyErr_Occurred())
        return -1;
    int is_void = PySet_Contains(VOID_ELEMENTS, lc);
    int raw = is_void < 0 ? -1 : PySequence_Contains(RAW_TEXT_TAGS, lc);
    if (raw < 0)
        return -1;
    info->closers = Py_XNewRef(closers);
    info->flags = (is_void ? TF_VOID : 0) | (raw ? TF_RAW : 0)
        | (is_tag(lc, "math") || is_tag(lc, "svg") ? TF_MATH_SVG : 0)
        | (is_tag(lc, "table") ? TF_TABLE : 0)
        | (is_tag(lc, "meta") ? TF_META : 0);
    return 0;
}

typedef struct {
    PyObject *raw, *lower;  /* lower: NULL until first asked for */
    TagInfo info;           /* lower's, once has_info */
    int has_info;
} Interned;
static Interned interned[INTERN_SLOTS];

/* empty the cache: setup() changed what a TagInfo holds */
static void intern_clear(void)
{
    for (int j = 0; j < INTERN_SLOTS; j++) {
        Py_CLEAR(interned[j].raw);
        Py_CLEAR(interned[j].lower);
        Py_CLEAR(interned[j].info.closers);
        interned[j].has_info = 0;
    }
}

/* t[a:b] and, unless lower_out is NULL, *lower_out = t[a:b].lower() (new
 * references) and, unless info is NULL, *info = its TagInfo (closers
 * borrowed: read it before Python code runs); NULL on error */
static PyObject *interned_span(const Src *s, Py_ssize_t a, Py_ssize_t b,
                               PyObject **lower_out, TagInfo *info)
{
    Py_ssize_t len = b - a;
    PyObject *raw, *lower = NULL;
    if (s->kind != PyUnicode_1BYTE_KIND || len > INTERN_MAX_LEN) {
        raw = span(s, a, b);
        if (raw == NULL)
            return NULL;
        if (lower_out != NULL && (lower = lower_span(s, a, b, raw)) == NULL) {
            Py_DECREF(raw);
            return NULL;
        }
        if (info != NULL) {
            /* an uncached name: its closers are held by OPEN_IMPLIES_CLOSE */
            int r = tag_info(lower, info);
            Py_XDECREF(info->closers);
            if (r < 0) {
                Py_DECREF(raw);
                Py_DECREF(lower);
                return NULL;
            }
        }
    } else {
        const Py_UCS1 *p = (const Py_UCS1 *)s->data + a;
        uint32_t h = 2166136261u;  /* FNV-1a */
        for (Py_ssize_t j = 0; j < len; j++)
            h = (h ^ p[j]) * 16777619u;
        Interned *e = &interned[h & (INTERN_SLOTS - 1)];
        if (e->raw == NULL || PyUnicode_GET_LENGTH(e->raw) != len
                || memcmp(PyUnicode_1BYTE_DATA(e->raw), p, len) != 0) {
            raw = span(s, a, b);
            if (raw == NULL)
                return NULL;
            Py_XSETREF(e->raw, raw);
            Py_CLEAR(e->lower);
            Py_CLEAR(e->info.closers);
            e->has_info = 0;
        }
        if (lower_out != NULL) {
            if (e->lower == NULL
                    && (e->lower = lower_span(s, a, b, e->raw)) == NULL)
                return NULL;
            if (info != NULL && !e->has_info) {
                if (tag_info(e->lower, &e->info) < 0)
                    return NULL;
                e->has_info = 1;
            }
            if (info != NULL)
                *info = e->info;
            lower = e->lower;
            Py_INCREF(lower);
        }
        raw = e->raw;
        Py_INCREF(raw);
    }
    if (lower_out != NULL)
        *lower_out = lower;
    return raw;
}

/* tag_lc equals the ASCII name */
static int is_tag(PyObject *tag_lc, const char *name)
{
    return PyUnicode_CompareWithASCIIString(tag_lc, name) == 0;
}

/* room for ``need`` items of ``size`` bytes in ``*buf`` */
static int reserve(void **buf, Py_ssize_t *cap, Py_ssize_t need, size_t size)
{
    if (need <= *cap)
        return 0;
    Py_ssize_t cap2 = *cap ? *cap : 64;
    while (cap2 < need)
        cap2 *= 2;
    void *p = PyMem_Realloc(*buf, (size_t)cap2 * size);
    if (p == NULL) {
        PyErr_NoMemory();
        return -1;
    }
    *buf = p;
    *cap = cap2;
    return 0;
}

/* --- node storage -----------------------------------------------------------
 *
 * NodeStore is DocBuilder.nodes whenever the core is loaded: a sequence
 * whose item i is node i's 21-slot record.  The scan, repair() and
 * examine_table() fill an array of node structs (the root and table
 * repair's wrappers flagged synthetic) and build no record, list, int or
 * content string per node; a struct holds the source offsets, and text is sliced from the
 * source when read.  nodes[i] builds node i's record the first time Python
 * reads it and keeps it (counted in ``materialized``); from then on that
 * record is the authority for node i, and its struct is not read again.
 * nodes.append(record) (the general machine, DocBuilder.new_element)
 * stores a Python record as it is.  Every C reader and writer goes through
 * node_ref(), which hands back the record whenever there is one.
 *
 * The store is that and nothing more: nodes[i] (negative i too, adjusted
 * by PySequence_GetItem), len(), iteration, append() and weak references.
 * It takes no slice, item assignment, deletion or comparison; a caller
 * that wants a list reads list(nodes).
 */

/* one attribute as spans of t: leading whitespace, name, the equals
 * string (whitespace, '=', whitespace), value; quote is 0, '"' or '\'' */
typedef struct {
    Py_ssize_t w0, w1, n0, n1, e0, e1, v0, v1;
    Py_UCS4 quote;
    int valued;  /* a value was read after '=' (the charset sniff's input) */
} Attr;

typedef struct {
    PyObject *rec;                /* the record, once built or appended */
    PyObject *tag, *tag_lc;       /* an element's names (owned) */
    PyObject *end_tag;            /* an element's end-tag text, or an
                                     unmatched close's content (owned);
                                     NULL reads "" */
    Py_ssize_t parent, first, last, next;  /* tree links; -1: none */
    Py_ssize_t src_start, src_end, end_at;
    Py_ssize_t a, b;              /* src[a:b]: a leaf's content, an
                                     element's inner whitespace */
    Py_ssize_t attr0, n_attrs;    /* an element's attributes in attrs[] */
    unsigned char kind, closure, terminated, poss_ent, bad_term;
    unsigned char synthetic;      /* the root, or a table repair wrapper */
} Node;

typedef struct {
    PyObject_HEAD
    Node *v;
    Py_ssize_t n, cap;
    Attr *attrs;
    Py_ssize_t n_attrs, cap_attrs;
    PyObject *src;                /* the text the offsets index */
    Py_ssize_t materialized;      /* records built on demand */
    PyObject *parent_int;         /* int(parent_of), the last N_PARENT built */
    Py_ssize_t parent_of;
    PyObject *weakrefs;
} NodeStore;

static PyTypeObject NodeStoreType;
#define NodeStore_Check(o) PyObject_TypeCheck(o, &NodeStoreType)

/* a new node at the end of the store; its index, -1 on error */
static Py_ssize_t store_push(NodeStore *st)
{
    if (reserve((void **)&st->v, &st->cap, st->n + 1, sizeof(Node)) < 0)
        return -1;
    Node *x = &st->v[st->n];
    memset(x, 0, sizeof *x);
    x->parent = x->first = x->last = x->next = -1;
    x->src_start = x->src_end = x->end_at = -1;
    return st->n++;
}

/* node i and, in *rec, its record if it has one (checked to be a node
 * record) or NULL; NULL on error */
static Node *node_ref(NodeStore *st, Py_ssize_t i, PyObject **rec)
{
    if (i < 0 || i >= st->n) {
        PyErr_Format(PyExc_IndexError, "node %zd out of range", i);
        return NULL;
    }
    Node *x = &st->v[i];
    PyObject *nd = x->rec;
    if (nd != NULL && (!PyList_Check(nd) || PyList_GET_SIZE(nd) < N_SLOTS
                       || !PyLong_Check(PyList_GET_ITEM(nd, N_KIND)))) {
        PyErr_Format(PyExc_ValueError, "node %zd is not a node record", i);
        return NULL;
    }
    *rec = nd;
    return x;
}

/* node i's kind; -1 with an error set on error */
static long kind_at(NodeStore *st, Py_ssize_t i)
{
    PyObject *nd;
    Node *x = node_ref(st, i, &nd);
    if (x == NULL)
        return -1;
    return nd != NULL ? PyLong_AsLong(PyList_GET_ITEM(nd, N_KIND)) : x->kind;
}

/* node i's lowercase tag (borrowed: read it before Python code runs);
 * NULL on error */
static PyObject *tag_lc_at(NodeStore *st, Py_ssize_t i)
{
    PyObject *nd;
    Node *x = node_ref(st, i, &nd);
    if (x == NULL)
        return NULL;
    if (nd == NULL)
        return x->tag_lc != NULL ? x->tag_lc : S_EMPTY;
    PyObject *tag = PyList_GET_ITEM(nd, N_TAG_LC);
    if (!PyUnicode_Check(tag)) {
        PyErr_Format(PyExc_TypeError, "node %zd: malformed element record",
                     i);
        return NULL;
    }
    return tag;
}

/* node i's closure state; -1 with an error set on error */
static long closure_at(NodeStore *st, Py_ssize_t i)
{
    PyObject *nd;
    Node *x = node_ref(st, i, &nd);
    if (x == NULL)
        return -1;
    return nd != NULL ? PyLong_AsLong(PyList_GET_ITEM(nd, N_CLOSURE))
                      : x->closure;
}

/* node i is synthetic; -1 on error */
static int synthetic_at(NodeStore *st, Py_ssize_t i)
{
    PyObject *nd;
    Node *x = node_ref(st, i, &nd);
    if (x == NULL)
        return -1;
    return nd == NULL ? x->synthetic
                      : PyObject_IsTrue(PyList_GET_ITEM(nd, N_SYNTHETIC));
}

static int set_closure(NodeStore *st, Py_ssize_t i, int closure)
{
    PyObject *nd;
    Node *x = node_ref(st, i, &nd);
    if (x == NULL)
        return -1;
    if (nd != NULL)
        return set_slot(nd, N_CLOSURE, INT[closure]);
    x->closure = (unsigned char)closure;
    return 0;
}

/* the end-tag fields of element i, closed by the end tag ``end_text`` at
 * ``at`` that ends at ``end_pos`` */
static int close_element(NodeStore *st, Py_ssize_t i, PyObject *end_text,
                         Py_ssize_t at, Py_ssize_t end_pos)
{
    PyObject *nd;
    Node *x = node_ref(st, i, &nd);
    if (x == NULL)
        return -1;
    if (nd != NULL) {
        if (set_int(nd, N_END_AT, at) < 0 || set_int(nd, N_SRC_END, end_pos) < 0)
            return -1;
        set_slot(nd, N_CLOSURE, INT[EXPLICITLY_CLOSED]);
        return set_slot(nd, N_END_TAG, end_text);
    }
    x->closure = EXPLICITLY_CLOSED;
    Py_INCREF(end_text);
    Py_XSETREF(x->end_tag, end_text);
    x->end_at = at;
    x->src_end = end_pos;
    return 0;
}

/* node c becomes the last child of node p */
static int append_child(NodeStore *st, Py_ssize_t p, Py_ssize_t c)
{
    PyObject *nd;
    Node *x = node_ref(st, p, &nd);
    if (x == NULL)
        return -1;
    if (nd != NULL) {
        PyObject *children = PyList_GET_ITEM(nd, N_CHILDREN);
        if (!PyList_Check(children)) {
            PyErr_Format(PyExc_TypeError, "node %zd: malformed element record",
                         p);
            return -1;
        }
        PyObject *idx = PyLong_FromSsize_t(c);
        int r = idx == NULL ? -1 : PyList_Append(children, idx);
        Py_XDECREF(idx);
        return r;
    }
    if (x->last < 0)
        x->first = c;
    else
        st->v[x->last].next = c;
    x->last = c;
    return 0;
}

/* the list of node i's children from its links */
static PyObject *linked_children(NodeStore *st, Py_ssize_t i)
{
    Py_ssize_t m = 0;
    for (Py_ssize_t c = st->v[i].first; c >= 0; c = st->v[c].next)
        m++;
    PyObject *kids = PyList_New(m);
    if (kids == NULL)
        return NULL;
    Py_ssize_t j = 0;
    for (Py_ssize_t c = st->v[i].first; c >= 0; c = st->v[c].next) {
        PyObject *idx = PyLong_FromSsize_t(c);
        if (idx == NULL) {
            Py_DECREF(kids);
            return NULL;
        }
        PyList_SET_ITEM(kids, j++, idx);
    }
    return kids;
}

/* attribute field f (0 names, 1 values, 2 spacing, 3 equals, 4 quotes) of
 * element x as a list */
static PyObject *attr_list(NodeStore *st, const Src *s, const Node *x, int f)
{
    PyObject *lst = PyList_New(x->n_attrs);
    if (lst == NULL)
        return NULL;
    for (Py_ssize_t j = 0; j < x->n_attrs; j++) {
        const Attr *a = &st->attrs[x->attr0 + j];
        PyObject *v;
        switch (f) {
        case 0: v = interned_span(s, a->n0, a->n1, NULL, NULL); break;
        case 1: v = span(s, a->v0, a->v1); break;
        case 2: v = span(s, a->w0, a->w1); break;
        case 3: v = span(s, a->e0, a->e1); break;
        default:
            v = Py_NewRef(a->quote == '"' ? S_DQ
                          : a->quote == '\'' ? S_SQ : S_EMPTY);
        }
        if (v == NULL) {
            Py_DECREF(lst);
            return NULL;
        }
        PyList_SET_ITEM(lst, j, v);
    }
    return lst;
}

/* int(parent): siblings read in a row share one int, as they share one in
 * a record the general machine builds (new reference) */
static PyObject *parent_int(NodeStore *st, Py_ssize_t parent)
{
    if (st->parent_int == NULL || st->parent_of != parent) {
        PyObject *v = PyLong_FromSsize_t(parent);
        if (v == NULL)
            return NULL;
        Py_XSETREF(st->parent_int, v);
        st->parent_of = parent;
    }
    return Py_NewRef(st->parent_int);
}

/* node i's record, built from its struct on the first read and kept (new
 * reference); NULL on error */
static PyObject *materialize(NodeStore *st, Py_ssize_t i)
{
    Node *x = &st->v[i];
    if (x->rec != NULL)
        return Py_NewRef(x->rec);
    /* read from a copy: an allocation below may run a finalizer that
     * appends to the store and moves its array */
    const Node c = *x;
    Src s;
    if (src_init(&s, st->src) < 0)
        return NULL;
    int element = c.kind == ELEMENT;
    PyObject *nd = PyList_New(N_SLOTS);
    if (nd == NULL)
        return NULL;
#define PUT(f, v)                                                       \
    do {                                                                \
        PyObject *v_ = (v);                                             \
        if (v_ == NULL)                                                 \
            goto fail;                                                  \
        PyList_SET_ITEM(nd, (f), v_);                                   \
    } while (0)
    PUT(N_KIND, Py_NewRef(INT[c.kind]));
    PUT(N_TAG, Py_NewRef(element ? c.tag : S_EMPTY));
    PUT(N_TAG_LC, Py_NewRef(element ? c.tag_lc : S_EMPTY));
    PUT(N_PARENT, parent_int(st, c.parent));
    PUT(N_CHILDREN, element ? linked_children(st, i) : Py_NewRef(Py_None));
    PUT(N_CLOSURE, Py_NewRef(INT[c.closure]));
    PUT(N_CONTENT, element ? Py_NewRef(Py_None)
        : c.kind == UNMATCHED_CLOSE ? Py_NewRef(c.end_tag)
        : span(&s, c.a, c.b));
    PUT(N_TERMINATED, Py_NewRef(c.terminated ? Py_True : Py_False));
    PUT(N_POSS_ENT, Py_NewRef(c.poss_ent ? Py_True : Py_False));
    PUT(N_END_TAG, Py_NewRef(element && c.end_tag != NULL ? c.end_tag
                                                        : S_EMPTY));
    for (int f = 0; f < 5; f++)
        PUT(N_ATTR_NAMES + f, !element ? Py_NewRef(Py_None)
            : c.n_attrs == 0 ? Py_NewRef(T_EMPTY)  /* shared by all five */
            : attr_list(st, &s, &c, f));
    PUT(N_INNER_WS, element ? span(&s, c.a, c.b) : Py_NewRef(S_EMPTY));
    PUT(N_BAD_TERM, Py_NewRef(c.bad_term ? S_EQ : Py_None));
    PUT(N_SYNTHETIC, Py_NewRef(c.synthetic ? Py_True : Py_False));
    PUT(N_SRC_START, PyLong_FromSsize_t(c.src_start));
    PUT(N_SRC_END, PyLong_FromSsize_t(c.src_end));
    PUT(N_END_AT, PyLong_FromSsize_t(c.end_at));
#undef PUT
    x = &st->v[i];
    x->rec = Py_NewRef(nd);
    Py_CLEAR(x->tag);
    Py_CLEAR(x->tag_lc);
    Py_CLEAR(x->end_tag);
    st->materialized++;
    counts[ST_RECORDS]++;
    return nd;
fail:
    Py_DECREF(nd);
    return NULL;
}

static PyObject *store_new(PyTypeObject *type, PyObject *args, PyObject *kw)
{
    if (PyTuple_GET_SIZE(args) != 0 || (kw != NULL && PyDict_GET_SIZE(kw))) {
        PyErr_SetString(PyExc_TypeError, "NodeStore() takes no arguments");
        return NULL;
    }
    return type->tp_alloc(type, 0);
}

static int store_traverse(NodeStore *st, visitproc visit, void *arg)
{
    for (Py_ssize_t i = 0; i < st->n; i++)
        Py_VISIT(st->v[i].rec);
    return 0;
}

static int store_clear(NodeStore *st)
{
    for (Py_ssize_t i = 0; i < st->n; i++)
        Py_CLEAR(st->v[i].rec);
    return 0;
}

static void store_dealloc(NodeStore *st)
{
    PyObject_GC_UnTrack(st);
    if (st->weakrefs != NULL)
        PyObject_ClearWeakRefs((PyObject *)st);
    for (Py_ssize_t i = 0; i < st->n; i++) {
        Node *x = &st->v[i];
        Py_XDECREF(x->rec);
        Py_XDECREF(x->tag);
        Py_XDECREF(x->tag_lc);
        Py_XDECREF(x->end_tag);
    }
    PyMem_Free(st->v);
    PyMem_Free(st->attrs);
    Py_XDECREF(st->src);
    Py_XDECREF(st->parent_int);
    Py_TYPE(st)->tp_free((PyObject *)st);
}

static Py_ssize_t store_length(NodeStore *st)
{
    return st->n;
}

static PyObject *store_item(NodeStore *st, Py_ssize_t i)
{
    if (i < 0 || i >= st->n) {
        PyErr_SetString(PyExc_IndexError, "node index out of range");
        return NULL;
    }
    return materialize(st, i);
}

static PyObject *store_append(NodeStore *st, PyObject *rec)
{
    Py_ssize_t i = store_push(st);
    if (i < 0)
        return NULL;
    Py_INCREF(rec);
    st->v[i].rec = rec;
    Py_RETURN_NONE;
}

static PyObject *store_materialized(NodeStore *st, void *closure)
{
    return PyLong_FromSsize_t(st->materialized);
}

static PySequenceMethods store_as_sequence = {
    .sq_length = (lenfunc)store_length,
    .sq_item = (ssizeargfunc)store_item,
};

static PyMethodDef store_methods[] = {
    {"append", (PyCFunction)store_append, METH_O,
     "append(record): store a Python record as node len(nodes)"},
    {NULL, NULL, 0, NULL}
};

static PyGetSetDef store_getset[] = {
    {"materialized", (getter)store_materialized, NULL,
     "the number of records built from node structs on a read", NULL},
    {NULL, NULL, NULL, NULL, NULL}
};

static PyTypeObject NodeStoreType = {
    PyVarObject_HEAD_INIT(NULL, 0)
    .tp_name = "fortissimo_spark._native.NodeStore",
    .tp_basicsize = sizeof(NodeStore),
    .tp_dealloc = (destructor)store_dealloc,
    .tp_as_sequence = &store_as_sequence,
    .tp_hash = PyObject_HashNotImplemented,
    .tp_flags = Py_TPFLAGS_DEFAULT | Py_TPFLAGS_HAVE_GC,
    .tp_doc = "DocBuilder.nodes: node structs filled by the native scan,"
              " each read as its 21-slot record, built on the first read",
    .tp_traverse = (traverseproc)store_traverse,
    .tp_clear = (inquiry)store_clear,
    .tp_weaklistoffset = offsetof(NodeStore, weakrefs),
    .tp_iter = PySeqIter_New,
    .tp_methods = store_methods,
    .tp_getset = store_getset,
    .tp_new = store_new,
    .tp_free = PyObject_GC_Del,
};

/* --- table repair -----------------------------------------------------------
 *
 * examine_table() is DocBuilder._examine_table (dom.ts:588-658) in C,
 * called when a table closes: insert_rows() (_insert_rows_where_needed)
 * wraps the td/th cells directly under the table, and under each of its
 * thead/tbody/tfoot sections, that no open tr holds in a synthetic tr;
 * then, if the table has a section, each tr directly under it goes into
 * the open section or into a new synthetic thead (a row with a th below
 * it) or tbody.  The wrappers are appended in the order the Python
 * methods append them, so node indices agree.  Every node is read and
 * written through node_ref(): a table whose records Python has read is
 * repaired through its records (a record's children list is rewritten in
 * place, as DocBuilder does), and the wrappers are structs.  The Python
 * methods stay the reference and the general machine's;
 * tests/test_node_store.py compares the two directly, and the parse
 * differentials through the scan.
 */

typedef struct {
    Py_ssize_t *v;
    Py_ssize_t n, cap;
} Idx;

static int idx_push(Idx *b, Py_ssize_t x)
{
    if (reserve((void **)&b->v, &b->cap, b->n + 1, sizeof(Py_ssize_t)) < 0)
        return -1;
    b->v[b->n++] = x;
    return 0;
}

/* b += a; a emptied */
static int idx_move(Idx *b, Idx *a)
{
    for (Py_ssize_t j = 0; j < a->n; j++)
        if (idx_push(b, a->v[j]) < 0)
            return -1;
    a->n = 0;
    return 0;
}

/* node i's children list from its record: NULL (no error) for None, or
 * NULL with an error set if it is not a list */
static PyObject *record_children(PyObject *nd, Py_ssize_t i)
{
    PyObject *children = PyList_GET_ITEM(nd, N_CHILDREN);
    if (children == Py_None)
        return NULL;
    if (!PyList_Check(children)) {
        PyErr_Format(PyExc_TypeError, "node %zd: malformed element record",
                     i);
        return NULL;
    }
    return children;
}

/* node i's children, in order, appended to out */
static int push_children_of(NodeStore *st, Py_ssize_t i, Idx *out)
{
    PyObject *nd;
    Node *x = node_ref(st, i, &nd);
    if (x == NULL)
        return -1;
    if (nd == NULL) {
        for (Py_ssize_t c = x->first; c >= 0; c = st->v[c].next)
            if (idx_push(out, c) < 0)
                return -1;
        return 0;
    }
    PyObject *children = record_children(nd, i);
    if (children == NULL)
        return PyErr_Occurred() ? -1 : 0;
    for (Py_ssize_t j = 0; j < PyList_GET_SIZE(children); j++) {
        PyObject *c = PyList_GET_ITEM(children, j);
        Py_ssize_t v = PyLong_Check(c) ? PyLong_AsSsize_t(c) : -1;
        if (v < 0 || v >= st->n) {
            if (!PyErr_Occurred())
                PyErr_Format(PyExc_IndexError,
                             "node %zd: child %zd is not a node", i, j);
            return -1;
        }
        if (idx_push(out, v) < 0)
            return -1;
    }
    return 0;
}

/* node i's children become kids, in order */
static int set_children(NodeStore *st, Py_ssize_t i, const Idx *kids)
{
    PyObject *nd;
    Node *x = node_ref(st, i, &nd);
    if (x == NULL)
        return -1;
    if (nd == NULL) {
        x->first = x->last = -1;
        for (Py_ssize_t j = 0; j < kids->n; j++) {
            Py_ssize_t c = kids->v[j];
            st->v[c].next = -1;
            if (x->last < 0)
                x->first = c;
            else
                st->v[x->last].next = c;
            x->last = c;
        }
        return 0;
    }
    PyObject *children = record_children(nd, i);
    if (children == NULL) {
        if (!PyErr_Occurred())
            PyErr_Format(PyExc_TypeError,
                         "node %zd: malformed element record", i);
        return -1;
    }
    PyObject *lst = PyList_New(kids->n);
    if (lst == NULL)
        return -1;
    for (Py_ssize_t j = 0; j < kids->n; j++) {
        PyObject *c = PyLong_FromSsize_t(kids->v[j]);
        if (c == NULL) {
            Py_DECREF(lst);
            return -1;
        }
        PyList_SET_ITEM(lst, j, c);
    }
    int r = PyList_SetSlice(children, 0, PyList_GET_SIZE(children), lst);
    Py_DECREF(lst);
    return r;
}

static int set_parent(NodeStore *st, Py_ssize_t i, Py_ssize_t parent)
{
    PyObject *nd;
    Node *x = node_ref(st, i, &nd);
    if (x == NULL)
        return -1;
    if (nd != NULL)
        return set_int(nd, N_PARENT, parent);
    x->parent = parent;
    return 0;
}

/* DocBuilder.new_element(tag, synthetic=True) with its parent set: the
 * new node's index, -1 on error */
static Py_ssize_t new_wrapper(NodeStore *st, PyObject *tag, Py_ssize_t parent)
{
    Py_ssize_t i = store_push(st);
    if (i < 0)
        return -1;
    Node *x = &st->v[i];
    x->kind = ELEMENT;
    x->tag = Py_NewRef(tag);
    x->tag_lc = Py_NewRef(tag);
    x->parent = parent;
    x->terminated = 1;
    x->synthetic = 1;
    return i;
}

/* DocBuilder._adopt: between and then elem become the last children of
 * box; between is emptied */
static int adopt(NodeStore *st, Py_ssize_t box, Idx *between, Py_ssize_t elem)
{
    if (idx_push(between, elem) < 0)
        return -1;
    for (Py_ssize_t j = 0; j < between->n; j++) {
        Py_ssize_t c = between->v[j];
        if (set_parent(st, c, box) < 0)
            return -1;
        st->v[c].next = -1;
        if (append_child(st, box, c) < 0)
            return -1;
    }
    between->n = 0;
    return 0;
}

/* an element below node i (or i itself) is a th: DocBuilder.query_selector
 * (i, "th") is not None; -1 on error */
static int has_th(NodeStore *st, Py_ssize_t i, Idx *stack)
{
    stack->n = 0;
    if (idx_push(stack, i) < 0)
        return -1;
    while (stack->n) {
        Py_ssize_t cur = stack->v[--stack->n];
        long kind = kind_at(st, cur);
        if (kind == -1 && PyErr_Occurred())
            return -1;
        if (kind != ELEMENT)
            continue;
        PyObject *tag = tag_lc_at(st, cur);
        if (tag == NULL)
            return -1;
        if (is_tag(tag, "th"))
            return 1;
        /* which th is found first does not matter, only whether there is
         * one */
        if (push_children_of(st, cur, stack) < 0)
            return -1;
    }
    return 0;
}

/* the scratch lists of one examine_table() call */
typedef struct {
    Idx kids, cells, kept, between, stack;
} Repair;

/* DocBuilder._insert_rows_where_needed(node): the td/th cells directly
 * under node that no open tr holds go into a synthetic tr */
static int insert_rows(NodeStore *st, Py_ssize_t node, Repair *r)
{
    Idx *kids = &r->cells, *kept = &r->kept, *between = &r->between;
    kids->n = kept->n = between->n = 0;
    if (push_children_of(st, node, kids) < 0)
        return -1;
    Py_ssize_t row = -1;
    int changed = 0;
    for (Py_ssize_t j = 0; j < kids->n; j++) {
        Py_ssize_t elem = kids->v[j];
        long kind = kind_at(st, elem);
        if (kind == -1 && PyErr_Occurred())
            return -1;
        if (kind != ELEMENT) {
            if (idx_push(row < 0 ? kept : between, elem) < 0)
                return -1;
            continue;
        }
        PyObject *tag = tag_lc_at(st, elem);
        if (tag == NULL)
            return -1;
        if (is_tag(tag, "td") || is_tag(tag, "th")) {
            if (row < 0 && ((row = new_wrapper(st, S_TR, node)) < 0
                            || idx_push(kept, row) < 0))
                return -1;
            if (adopt(st, row, between, elem) < 0)
                return -1;
            changed = 1;
            continue;
        }
        int tr = is_tag(tag, "tr");
        if (idx_move(kept, between) < 0 || idx_push(kept, elem) < 0)
            return -1;
        long closure = tr ? closure_at(st, elem) : 0;
        if (closure == -1 && PyErr_Occurred())
            return -1;
        row = tr && closure != EXPLICITLY_CLOSED ? elem : -1;
    }
    /* without a cell moved, kept + between is the children list as it was */
    if (!changed)
        return 0;
    return idx_move(kept, between) < 0 ? -1 : set_children(st, node, kept);
}

static int is_section(PyObject *tag)
{
    return is_tag(tag, "thead") || is_tag(tag, "tbody") || is_tag(tag, "tfoot");
}

static int examine_rows(NodeStore *st, Py_ssize_t table, Repair *r)
{
    Idx *kids = &r->kids, *kept = &r->kept, *between = &r->between;
    kids->n = 0;
    if (push_children_of(st, table, kids) < 0)
        return -1;
    if (kids->n == 0)
        return 0;
    if (insert_rows(st, table, r) < 0)
        return -1;
    kids->n = 0;
    if (push_children_of(st, table, kids) < 0)
        return -1;
    int sections = 0;
    for (Py_ssize_t j = 0; j < kids->n; j++) {
        long kind = kind_at(st, kids->v[j]);
        if (kind == -1 && PyErr_Occurred())
            return -1;
        if (kind != ELEMENT)
            continue;
        PyObject *tag = tag_lc_at(st, kids->v[j]);
        if (tag == NULL)
            return -1;
        if (is_section(tag)) {
            sections = 1;
            if (insert_rows(st, kids->v[j], r) < 0)
                return -1;
        }
    }
    if (!sections)
        return 0;

    kept->n = between->n = 0;
    Py_ssize_t section = -1;
    int changed = 0;
    for (Py_ssize_t j = 0; j < kids->n; j++) {
        Py_ssize_t elem = kids->v[j];
        long kind = kind_at(st, elem);
        if (kind == -1 && PyErr_Occurred())
            return -1;
        if (kind != ELEMENT) {
            if (idx_push(section < 0 ? kept : between, elem) < 0)
                return -1;
            continue;
        }
        PyObject *tag = tag_lc_at(st, elem);
        if (tag == NULL)
            return -1;
        if (is_tag(tag, "tr")) {
            int th = has_th(st, elem, &r->stack);
            if (th < 0)
                return -1;
            int fresh = section < 0;
            if (!fresh && th) {
                PyObject *section_tag = tag_lc_at(st, section);
                if (section_tag == NULL)
                    return -1;
                fresh = !is_tag(section_tag, "thead");
            }
            if (fresh && (idx_move(kept, between) < 0
                          || (section = new_wrapper(st, th ? S_THEAD : S_TBODY,
                                                    table)) < 0
                          || idx_push(kept, section) < 0))
                return -1;
            if (adopt(st, section, between, elem) < 0)
                return -1;
            changed = 1;
            continue;
        }
        int open_section = is_section(tag);
        if (idx_move(kept, between) < 0 || idx_push(kept, elem) < 0)
            return -1;
        long closure = open_section ? closure_at(st, elem) : 0;
        if (closure == -1 && PyErr_Occurred())
            return -1;
        section = open_section && closure != EXPLICITLY_CLOSED ? elem : -1;
    }
    if (!changed)
        return 0;
    return idx_move(kept, between) < 0 ? -1 : set_children(st, table, kept);
}

/* DocBuilder._examine_table(table) */
static int examine_table(NodeStore *st, Py_ssize_t table)
{
    Repair r;
    memset(&r, 0, sizeof r);
    int rc = examine_rows(st, table, &r);
    PyMem_Free(r.kids.v);
    PyMem_Free(r.cells.v);
    PyMem_Free(r.kept.v);
    PyMem_Free(r.between.v);
    PyMem_Free(r.stack.v);
    return rc;
}
/* --- the scan ------------------------------------------------------------- */

typedef struct {
    Src src;
    NodeStore *st;
    Py_ssize_t *stack;     /* the open stack (DocBuilder.open_stack) */
    Py_ssize_t depth, cap;
    PyObject *charset;     /* the meta charset so far: None, "" or a name
                              (owned); the core sniffs while it is empty */
    PyObject *on_charset;  /* parse()'s hook, or NULL */
    long errors;
    long math_or_svg;      /* DocBuilder.in_math_or_svg */
    int stop;              /* stop after the current tag */
} Scan;

static inline Py_ssize_t top(const Scan *s)
{
    return s->stack[s->depth - 1];
}

static int push_stack(Scan *s, Py_ssize_t node)
{
    if (reserve((void **)&s->stack, &s->cap, s->depth + 1,
                sizeof(Py_ssize_t)) < 0)
        return -1;
    s->stack[s->depth++] = node;
    return 0;
}

/* s->stack = the ints of list */
static int stack_from(Scan *s, PyObject *list)
{
    Py_ssize_t len = PyList_GET_SIZE(list);
    if (len == 0) {
        PyErr_SetString(PyExc_ValueError, "scan(): the open stack is empty");
        return -1;
    }
    for (Py_ssize_t j = 0; j < len; j++) {
        Py_ssize_t v = PyLong_AsSsize_t(PyList_GET_ITEM(list, j));
        if ((v == -1 && PyErr_Occurred()) || push_stack(s, v) < 0)
            return -1;
    }
    return 0;
}

/* list[:] = s->stack, rewriting only the entries after the common prefix */
static int stack_to(const Scan *s, PyObject *list)
{
    Py_ssize_t len = PyList_GET_SIZE(list), p = 0;
    while (p < len && p < s->depth) {
        Py_ssize_t v = PyLong_AsSsize_t(PyList_GET_ITEM(list, p));
        if (v == -1 && PyErr_Occurred())
            return -1;
        if (v != s->stack[p])
            break;
        p++;
    }
    if (p == len && p == s->depth)
        return 0;
    PyObject *tail = PyList_New(s->depth - p);
    if (tail == NULL)
        return -1;
    for (Py_ssize_t j = p; j < s->depth; j++) {
        PyObject *v = PyLong_FromSsize_t(s->stack[j]);
        if (v == NULL) {
            Py_DECREF(tail);
            return -1;
        }
        PyList_SET_ITEM(tail, j - p, v);
    }
    int r = PyList_SetSlice(list, p, len, tail);
    Py_DECREF(tail);
    return r;
}

/* a new node struct under the stack top: its index, -1 on error */
static Py_ssize_t add_node(const Scan *s, int kind)
{
    Py_ssize_t parent = top(s);
    Py_ssize_t idx = store_push(s->st);
    if (idx < 0 || append_child(s->st, parent, idx) < 0)
        return -1;
    Node *x = &s->st->v[idx];
    x->kind = (unsigned char)kind;
    x->parent = parent;
    x->terminated = 1;
    return idx;
}

/* DocBuilder.add_leaf(kind, t[a:b], terminated, poss_ent, src_start,
 * src_end) */
static int add_leaf(const Scan *s, int kind, Py_ssize_t a, Py_ssize_t b,
                    int terminated, int poss_ent, Py_ssize_t src_start,
                    Py_ssize_t src_end)
{
    Py_ssize_t idx = add_node(s, kind);
    if (idx < 0)
        return -1;
    Node *x = &s->st->v[idx];
    x->a = a;
    x->b = b;
    x->terminated = (unsigned char)terminated;
    x->poss_ent = (unsigned char)poss_ent;
    x->src_start = src_start;
    x->src_end = src_end;
    return 0;
}

/* a == b for two tag names; most come from the intern cache, so the
 * identity test settles them */
static int same_name(PyObject *a, PyObject *b)
{
    if (a == b)
        return 1;
    if (PyUnicode_CheckExact(a) && PyUnicode_CheckExact(b)) {
        Py_ssize_t n = PyUnicode_GET_LENGTH(a);
        int kind = PyUnicode_KIND(a);
        return n == PyUnicode_GET_LENGTH(b) && kind == PyUnicode_KIND(b)
            && memcmp(PyUnicode_DATA(a), PyUnicode_DATA(b),
                      (size_t)n * kind) == 0;
    }
    return PyObject_RichCompareBool(a, b, Py_EQ);
}

/* the tag name of the element at stack[j] (borrowed) */
static inline PyObject *stack_tag(const Scan *s, Py_ssize_t j)
{
    return tag_lc_at(s->st, s->stack[j]);
}

/* The general machine's end-tag step when the stack top closes: the
 * inline part of DocBuilder.pop for a matching top, the end tag at ``at``
 * ending at ``end_pos``. */
static int close_top(Scan *s, unsigned flags, PyObject *end_text,
                     Py_ssize_t at, Py_ssize_t end_pos)
{
    Py_ssize_t cur = s->stack[--s->depth];
    if (close_element(s->st, cur, end_text, at, end_pos) < 0)
        return -1;
    if ((flags & TF_TABLE) && examine_table(s->st, cur) < 0)
        return -1;
    s->math_or_svg -= (flags & TF_MATH_SVG) != 0;
    return 0;
}

/* DocBuilder.pop for an end tag whose element is not the stack top, the
 * end tag at ``at`` ending at ``end_pos``: the stack scan from the top, the
 * block by a marker element above a formatting element, the unwind
 * (explicit closure for the match, implicit for what lies above it) and,
 * for an end tag that closed nothing, an UNMATCHED_CLOSE leaf.  '<//>' with
 * only the root open closes the root, which stays open.  Returns 1 if the
 * end tag closed an element, 0 if it was unmatched, -1 on error. */
static int repair(Scan *s, PyObject *tag_lc, PyObject *end_text,
                  Py_ssize_t at, Py_ssize_t end_pos)
{
    Py_ssize_t len = s->depth, match = -1;
    if (len == 1) {
        Py_ssize_t root = top(s);
        PyObject *root_tag = stack_tag(s, 0);
        int eq = root_tag == NULL ? -1 : same_name(root_tag, tag_lc);
        if (eq < 0)
            return -1;
        if (eq) {
            /* popped and pushed back: the stack is the root alone */
            if (close_element(s->st, root, end_text, at, end_pos) < 0)
                return -1;
            s->stack[0] = 0;
            return 1;
        }
    }
    /* the top is known not to match, and a match on the root alone (index
     * 0) counts as unmatched */
    for (Py_ssize_t j = len - 2; j > 0; j--) {
        PyObject *tag = stack_tag(s, j);
        int eq = tag == NULL ? -1 : same_name(tag, tag_lc);
        if (eq < 0)
            return -1;
        if (eq) {
            match = j;
            break;
        }
    }
    if (match > 0) {
        int fmt = PySet_Contains(FORMATTING_ELEMENTS, tag_lc);
        if (fmt < 0)
            return -1;
        for (Py_ssize_t j = match + 1; fmt && j < len; j++) {
            PyObject *tag = stack_tag(s, j);
            int marker = tag == NULL ? -1 : PySet_Contains(MARKER_ELEMENTS, tag);
            if (marker < 0)
                return -1;
            if (marker) {
                match = -1;
                break;
            }
        }
    }
    int popped = 0;
    while (match > 0 && s->depth > match) {
        Py_ssize_t cur = top(s);
        long closed = closure_at(s->st, cur);
        if (closed == -1 && PyErr_Occurred())
            return -1;
        if (!closed) {
            if (s->depth - 1 == match) {
                popped = 1;
                if (close_element(s->st, cur, end_text, at, end_pos) < 0)
                    return -1;
            } else if (set_closure(s->st, cur, IMPLICITLY_CLOSED) < 0) {
                return -1;
            }
            PyObject *tag = tag_lc_at(s->st, cur);
            if (tag == NULL
                    || (is_tag(tag, "table") && examine_table(s->st, cur) < 0))
                return -1;
        }
        PyObject *tag = tag_lc_at(s->st, cur);
        if (tag == NULL)
            return -1;
        s->math_or_svg -= is_tag(tag, "math") || is_tag(tag, "svg");
        s->depth--;
    }
    if (!popped) {
        Py_ssize_t idx = add_node(s, UNMATCHED_CLOSE);
        if (idx < 0)
            return -1;
        Node *x = &s->st->v[idx];
        Py_INCREF(end_text);
        x->end_tag = end_text;
        x->src_start = x->end_at = at;
        x->src_end = end_pos;
    }
    return popped;
}

/* '</' at k.  Returns the offset after the tag, 0 to hand off, -1 on
 * error. */
static Py_ssize_t end_tag(Scan *s, Py_ssize_t k)
{
    const Src *src = &s->src;
    Py_ssize_t n = src->n;
    Py_ssize_t iw = ws_end(src, k + 2);
    if (iw >= n || CH(src, iw) == '>')
        return 0;
    Py_ssize_t tag_end = iw + 1;
    while (tag_end < n) {
        Py_UCS4 c = CH(src, tag_end);
        if (is_ws(c) || c == '/' || c == '>')
            break;
        tag_end++;
    }
    Py_ssize_t i2 = ws_end(src, tag_end);
    if (i2 >= n || CH(src, i2) != '>')
        return 0;

    TagInfo info;
    PyObject *tag_lc, *tag = interned_span(src, iw, tag_end, &tag_lc, &info);
    if (tag == NULL)
        return -1;
    Py_DECREF(tag);
    /* endTagText excludes whitespace after '</' */
    PyObject *text;
    if (iw == k + 2) {
        text = interned_span(src, k, i2 + 1, NULL, NULL);
    } else {
        PyObject *rest = span(src, iw, i2 + 1);
        text = rest ? PyUnicode_Concat(S_LT_SLASH, rest) : NULL;
        Py_XDECREF(rest);
    }
    Py_ssize_t r = -1;
    if (text == NULL)
        goto done;
    int match = s->depth > 1;
    if (match) {
        PyObject *top_tag = stack_tag(s, s->depth - 1);
        match = top_tag == NULL ? -1 : same_name(top_tag, tag_lc);
        if (match < 0)
            goto done;
    }
    if (match) {
        if (close_top(s, info.flags, text, k, i2 + 1) < 0)
            goto done;
        counts[ST_END_TOP]++;
    } else {
        int popped = repair(s, tag_lc, text, k, i2 + 1);
        if (popped < 0)
            goto done;
        if (popped) {
            counts[ST_END_UNWIND]++;
        } else {
            s->errors++;
            counts[ST_END_UNMATCHED]++;
        }
    }
    r = i2 + 1;
done:
    Py_DECREF(tag_lc);
    Py_XDECREF(text);
    return r;
}

typedef struct {
    Attr *a;
    Py_ssize_t len, cap;
    Attr local[16];
} Attrs;

static int push_attr(Attrs *as, Py_ssize_t w0, Py_ssize_t w1, Py_ssize_t n0,
                     Py_ssize_t n1, Py_ssize_t e0, Py_ssize_t e1,
                     Py_ssize_t v0, Py_ssize_t v1, Py_UCS4 quote, int valued)
{
    if (as->len == as->cap) {
        Py_ssize_t cap = as->cap * 2;
        Attr *a = PyMem_Malloc(cap * sizeof(Attr));
        if (a == NULL) {
            PyErr_NoMemory();
            return -1;
        }
        memcpy(a, as->a, as->len * sizeof(Attr));
        if (as->a != as->local)
            PyMem_Free(as->a);
        as->a = a;
        as->cap = cap;
    }
    Attr *x = &as->a[as->len++];
    x->w0 = w0; x->w1 = w1; x->n0 = n0; x->n1 = n1;
    x->e0 = e0; x->e1 = e1; x->v0 = v0; x->v1 = v1; x->quote = quote;
    x->valued = valued;
    return 0;
}

/* the raw-text scan after an open script/style/textarea at stack top:
 * the first '</tag' [ws]* '>' with a naive stage matcher (a partial match
 * resumes after the mismatching char) */
static Py_ssize_t raw_text(Scan *s, Py_ssize_t i, PyObject *tag_lc,
                           unsigned flags)
{
    const Src *src = &s->src;
    Py_ssize_t n = src->n;
    Py_ssize_t tlen = PyUnicode_GET_LENGTH(tag_lc);
    Py_ssize_t elen = tlen + 2;
    Py_ssize_t scan = i, match_start = -1, gt = -1;
    int poss_ent = is_tag(tag_lc, "textarea");
    for (;;) {
        Py_ssize_t kk = find_char(src, '<', scan);
        if (kk < 0)
            break;
        Py_ssize_t m = 0;
        while (m < elen && kk + m < n) {
            Py_UCS4 want = m == 0 ? '<' : m == 1 ? '/'
                : PyUnicode_READ_CHAR(tag_lc, m - 2);
            Py_UCS4 c = CH(src, kk + m);
            /* c.lower() == want: ASCII folding, plus KELVIN SIGN -> 'k' */
            if (c >= 'A' && c <= 'Z')
                c += 32;
            else if (c == 0x212A)
                c = 'k';
            if (c != want)
                break;
            m++;
        }
        if (m < elen) {
            if (kk + m >= n)
                break;
            scan = kk + m + 1;
            continue;
        }
        Py_ssize_t p = kk + elen;
        while (p < n && is_ws(CH(src, p)))
            p++;
        if (p < n && CH(src, p) == '>') {
            match_start = kk;
            gt = p;
            break;
        }
        if (p >= n)
            break;
        scan = p + 1;
    }
    if (match_start < 0) {
        s->errors++;
        if (i < n && add_leaf(s, TEXT, i, n, 1, poss_ent, i, n) < 0)
            return -1;
        counts[ST_RAW_TEXT_EOF]++;
        return n;
    }
    if (match_start > i
            && add_leaf(s, TEXT, i, match_start, 1, poss_ent, i,
                        match_start) < 0)
        return -1;
    PyObject *text = interned_span(src, match_start, gt + 1, NULL, NULL);
    if (text == NULL)
        return -1;
    int r = close_top(s, flags, text, match_start, gt + 1);
    Py_DECREF(text);
    if (r < 0)
        return -1;
    counts[ST_RAW_TEXT]++;
    return gt + 1;
}

/* The meta charset sniff (html-parser.ts:729-758).  While the charset
 * so far is None or "", each meta tag's valued attributes are read in
 * order.  A tag with an http-equiv or content attribute goes to
 * parser._meta_charset, which runs the content-type two-step; otherwise
 * each charset= attribute sets the charset to its value, stripped as
 * str.strip() strips.  A tag that leaves a non-empty charset ends the
 * sniff and calls charset_known(). */

/* t[a:b] is ``name`` (lowercase ASCII) once lowercased: no non-ASCII
 * character lowercases to a letter of charset, content or http-equiv */
static int attr_is(const Src *s, Py_ssize_t a, Py_ssize_t b, const char *name)
{
    Py_ssize_t len = (Py_ssize_t)strlen(name);
    if (b - a != len)
        return 0;
    for (Py_ssize_t j = 0; j < len; j++) {
        Py_UCS4 c = CH(s, a + j);
        if (c >= 'A' && c <= 'Z')
            c += 32;
        if (c != (Py_UCS4)name[j])
            return 0;
    }
    return 1;
}

static int sniffing(const Scan *s)
{
    return s->charset == Py_None || PyUnicode_GET_LENGTH(s->charset) == 0;
}

/* a meta tag left the charset s->charset (non-empty): the scan stops
 * after this tag if parse()'s on_charset hook returns true */
static int charset_known(Scan *s)
{
    if (s->on_charset == NULL)
        return 0;
    PyObject *r = PyObject_CallOneArg(s->on_charset, s->charset);
    if (r == NULL)
        return -1;
    s->stop = PyObject_IsTrue(r);
    Py_DECREF(r);
    return s->stop < 0 ? -1 : 0;
}

/* str.strip() of t[a:b] */
static PyObject *stripped(const Src *s, Py_ssize_t a, Py_ssize_t b)
{
    while (a < b && Py_UNICODE_ISSPACE(CH(s, a)))
        a++;
    while (b > a && Py_UNICODE_ISSPACE(CH(s, b - 1)))
        b--;
    return span(s, a, b);
}

/* the sniff of one meta tag */
static int sniff(Scan *s, const Attrs *as)
{
    const Src *src = &s->src;
    int python = 0;
    for (Py_ssize_t j = 0; j < as->len && !python; j++) {
        const Attr *x = &as->a[j];
        python = x->valued && (attr_is(src, x->n0, x->n1, "http-equiv")
                               || attr_is(src, x->n0, x->n1, "content"));
    }
    PyObject *charset = Py_NewRef(s->charset);
    if (python) {
        PyObject *names = PyList_New(0), *values = PyList_New(0);
        int bad = names == NULL || values == NULL;
        for (Py_ssize_t j = 0; j < as->len && !bad; j++) {
            const Attr *x = &as->a[j];
            if (!x->valued)
                continue;
            PyObject *name = span(src, x->n0, x->n1);
            PyObject *value = span(src, x->v0, x->v1);
            bad = name == NULL || value == NULL
                || PyList_Append(names, name) < 0
                || PyList_Append(values, value) < 0;
            Py_XDECREF(name);
            Py_XDECREF(value);
        }
        Py_SETREF(charset, bad ? NULL : PyObject_CallFunctionObjArgs(
            META_CHARSET, names, values, charset, NULL));
        Py_XDECREF(names);
        Py_XDECREF(values);
        if (charset != NULL && charset != Py_None
                && !PyUnicode_Check(charset)) {
            PyErr_SetString(PyExc_TypeError,
                            "the meta charset sniff returned a non-str");
            Py_CLEAR(charset);
        }
        counts[ST_PYTHON_SNIFF]++;
    } else {
        for (Py_ssize_t j = 0; j < as->len && charset != NULL; j++) {
            const Attr *x = &as->a[j];
            if (x->valued && attr_is(src, x->n0, x->n1, "charset"))
                Py_SETREF(charset, stripped(src, x->v0, x->v1));
        }
    }
    if (charset == NULL)
        return -1;
    Py_SETREF(s->charset, charset);
    counts[ST_META]++;
    return sniffing(s) ? 0 : charset_known(s);
}

/* '<!' markup other than a comment at k: a declaration or a doctype.  An
 * xhtml doctype (it switches to xml mode) and '<![' (CDATA inside
 * math/svg) are handed off. */
static Py_ssize_t declaration(Scan *s, Py_ssize_t k)
{
    const Src *src = &s->src;
    Py_ssize_t n = src->n, a = k + 2, b, i;
    int terminated = 1;
    if (a < n && CH(src, a) == '[')
        return 0;
    Py_ssize_t iw = ws_end(src, a);
    if (iw == a && iw < n && CH(src, iw) == '>') {
        b = a;
        i = iw + 1;
    } else {
        Py_ssize_t e = iw < n ? find_char(src, '>', iw + 1) : -1;
        if (e == -2)
            return -1;
        if (e < 0) {
            b = i = n;
            terminated = 0;
        } else {
            b = e;
            i = e + 1;
        }
    }
    /* ^doctype\b, ASCII case-insensitive */
    static const char DOCTYPE[] = "doctype", XHTML[] = "xhtml";
    int doctype = b - a >= 7;
    for (int j = 0; doctype && j < 7; j++)
        doctype = (CH(src, a + j) | 0x20) == (Py_UCS4)DOCTYPE[j];
    if (doctype && b - a > 7) {
        Py_UCS4 c = CH(src, a + 7);
        doctype = !((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
                    || (c >= '0' && c <= '9') || c == '_');
    }
    if (doctype) {
        for (Py_ssize_t p = a; p + 5 <= b; p++) {
            int j = 0;
            while (j < 5 && (CH(src, p + j) | 0x20) == (Py_UCS4)XHTML[j])
                j++;
            if (j == 5)
                return 0;
        }
    }
    if (!terminated)
        s->errors++;
    counts[ST_DECL]++;
    return add_leaf(s, doctype ? DOCTYPE_NODE : DECLARATION, a, b, terminated,
                    0, k, i) < 0 ? -1 : i;
}

enum { END_GT, END_SELF, END_BAD };

/* a start tag at k ('<' + letter or ':').  Returns the offset after the
 * tag (after its raw text for script/style/textarea), 0 to hand off, -1 on
 * error. */
static Py_ssize_t start_tag(Scan *s, Py_ssize_t k)
{
    const Src *src = &s->src;
    NodeStore *st = s->st;
    Py_ssize_t n = src->n;
    Py_ssize_t i = k + 2;
    while (i < n) {
        Py_UCS4 c = CH(src, i);
        if (is_ws(c) || c == '/' || c == '>')
            break;
        i++;
    }
    TagInfo info;
    PyObject *tag_lc, *tag = interned_span(src, k + 1, i, &tag_lc, &info);
    if (tag == NULL)
        return -1;
    Py_ssize_t r = 0;
    Attrs as;
    as.a = as.local;
    as.len = 0;
    as.cap = 16;

    /* read the attributes into spans; nothing but the tag name (most
     * often from the intern cache) is built before the tag is known to be
     * owned */
    int end_kind;
    Py_ssize_t w0, w1, pend0 = -1, pend1 = -1;
    for (;;) {
        if (pend0 < 0) {
            w0 = i;
            i = ws_end(src, i);
            w1 = i;
        } else {
            w0 = pend0;
            w1 = pend1;
            pend0 = -1;
        }
        if (i >= n)
            goto eof;
        Py_UCS4 c = CH(src, i);
        if (c == '/') {
            if (i + 1 < n && CH(src, i + 1) == '>') {
                i += 2;
                end_kind = END_SELF;
                break;
            }
            /* stray slash: a valueless '/' attribute */
            if (push_attr(&as, w0, w1, i, i + 1, i, i, i, i, 0, 0) < 0)
                goto error;
            i++;
            continue;
        }
        if (c == '>') {
            i++;
            end_kind = END_GT;
            break;
        }
        Py_ssize_t n0 = i;
        while (i < n) {
            c = CH(src, i);
            if (is_ws(c) || c == '>' || c == '/' || c == '=')
                break;
            i++;
        }
        if (i == n0) {
            /* '=' where a name should start: bad terminator */
            i++;
            end_kind = END_BAD;
            break;
        }
        Py_ssize_t n1 = i;
        i = ws_end(src, i);
        if (i >= n)
            goto eof;
        if (CH(src, i) != '=') {
            if (push_attr(&as, w0, w1, n0, n1, n1, n1, n1, n1, 0, 0) < 0)
                goto error;
            pend0 = n1;
            pend1 = i;
            continue;
        }
        Py_ssize_t e0 = n1, eq_end = i + 1;
        i = ws_end(src, eq_end);
        if (i >= n)
            goto eof;
        Py_UCS4 c3 = CH(src, i);
        if (c3 == '>') {
            if (push_attr(&as, w0, w1, n0, n1, e0, eq_end, i, i, 0, 0) < 0)
                goto error;
            pend0 = eq_end;
            pend1 = i;
            continue;
        }
        if (c3 == '"' || c3 == '\'') {
            Py_ssize_t e = find_char(src, c3, i + 1);
            if (e == -2)
                goto error;
            if (e < 0)
                goto eof;  /* unterminated quote runs to EOF */
            if (push_attr(&as, w0, w1, n0, n1, e0, i, i + 1, e, c3, 1) < 0)
                goto error;
            i = e + 1;
        } else {
            Py_ssize_t v0 = i;
            while (i < n) {
                c = CH(src, i);
                if (is_ws(c) || c == '>')
                    break;
                i++;
            }
            /* a trailing '/' is not part of the value */
            if (CH(src, i - 1) == '/')
                i--;
            if (push_attr(&as, w0, w1, n0, n1, e0, v0, v0, i, 0, 1) < 0)
                goto error;
        }
    }

    /* build the element */
    PyObject *closers = info.closers;
    while (closers != NULL && s->depth > 1) {
        Py_ssize_t cur = top(s);
        PyObject *cur_tag = tag_lc_at(st, cur);
        int hit = cur_tag == NULL ? -1 : PySet_Contains(closers, cur_tag);
        if (hit < 0)
            goto error;
        if (!hit)
            break;
        if (set_closure(st, cur, IMPLICITLY_CLOSED) < 0)
            goto error;
        s->depth--;
    }
    int is_void = end_kind == END_SELF
        || (end_kind == END_GT && (info.flags & TF_VOID));
    Py_ssize_t attr0 = st->n_attrs;
    if (reserve((void **)&st->attrs, &st->cap_attrs, attr0 + as.len,
                sizeof(Attr)) < 0)
        goto error;
    Py_ssize_t node = add_node(s, ELEMENT);
    if (node < 0)
        goto error;
    if (as.len) {
        memcpy(st->attrs + attr0, as.a, as.len * sizeof(Attr));
        st->n_attrs += as.len;
    }
    Node *x = &st->v[node];
    Py_INCREF(tag);
    x->tag = tag;
    Py_INCREF(tag_lc);
    x->tag_lc = tag_lc;
    x->attr0 = attr0;
    x->n_attrs = as.len;
    x->a = w0;
    x->b = w1;
    x->bad_term = end_kind == END_BAD;
    x->src_start = k;
    if (is_void) {
        /* pushed and popped at once: the stack and the math/svg counter
         * end where they began, and an empty table has nothing to repair */
        x->src_end = i;
        x->closure = end_kind == END_SELF ? SELF_CLOSED : VOID_CLOSED;
    }
    if (sniffing(s) && (info.flags & TF_META) && sniff(s, &as) < 0)
        goto error;
    if (is_void) {
        counts[ST_VOID]++;
        r = i;
        goto done;
    }
    if (push_stack(s, node) < 0)
        goto error;
    s->math_or_svg += (info.flags & TF_MATH_SVG) != 0;
    if (end_kind == END_BAD) {
        s->errors++;
        counts[ST_BAD_TERM]++;
        r = i;
        goto done;
    }
    counts[ST_START]++;
    r = info.flags & TF_RAW ? raw_text(s, i, tag_lc, info.flags) : i;
    goto done;
eof:
    counts[ST_OFF_START_EOF]++;
    r = 0;
    goto done;
error:
    r = -1;
done:
    if (as.a != as.local)
        PyMem_Free(as.a);
    Py_DECREF(tag);
    Py_DECREF(tag_lc);
    return r;
}

/* '<!--' at k: the comment closes at the first '>' after a dash run of
 * length m with m % 3 == 2 */
static Py_ssize_t comment(Scan *s, Py_ssize_t k)
{
    const Src *src = &s->src;
    Py_ssize_t start = k + 4, scan = start, e = -1;
    for (;;) {
        Py_ssize_t g = find_char(src, '>', scan);
        if (g == -2)
            return -1;
        if (g < 0)
            break;
        Py_ssize_t d = g - 1;
        while (d >= start && CH(src, d) == '-')
            d--;
        Py_ssize_t m = g - 1 - d;
        if (m >= 2 && m % 3 == 2) {
            e = g;
            break;
        }
        scan = g + 1;
    }
    counts[ST_COMMENT]++;
    if (e < 0) {
        s->errors++;
        return add_leaf(s, COMMENT, start, src->n, 0, 0, k, src->n) < 0
            ? -1 : src->n;
    }
    return add_leaf(s, COMMENT, start, e - 2, 1, 0, k, e + 1) < 0
        ? -1 : e + 1;
}

/* the text run from i to the next markup start (or EOF); returns that
 * offset and sets *c2 to the char after its '<' (0 at EOF) */
static Py_ssize_t text_run(Scan *s, Py_ssize_t i, int empty_end_tag,
                           Py_UCS4 *c2_out)
{
    const Src *src = &s->src;
    Py_ssize_t n = src->n, j = i, k;
    Py_UCS4 c2 = 0;
    for (;;) {
        k = find_char(src, '<', j);
        if (k == -2)
            return -1;
        if (k < 0) {
            k = n;
            break;
        }
        int has2 = k + 1 < n;
        c2 = has2 ? CH(src, k + 1) : 0;
        if (has2 && is_markup_start(c2)) {
            if (c2 == '/' && !empty_end_tag) {
                int has3 = k + 2 < n;
                Py_UCS4 c3 = has3 ? CH(src, k + 2) : 0;
                if (has3 && c3 != '/' && is_markup_start(c3))
                    break;
                j = has3 ? k + 3 : k + 2;
                continue;
            }
            break;
        }
        /* literal '<': it and the following char are text */
        j = has2 ? k + 2 : k + 1;
    }
    if (k > i) {
        if (add_leaf(s, TEXT, i, k, 1, 1, i, k) < 0)
            return -1;
        counts[ST_TEXT]++;
    }
    if (k == n) {
        /* text that is not all whitespace leaves the reference in
         * AT_MARKUP_START at EOF: one wrap-up error */
        for (Py_ssize_t p = i; p < n; p++) {
            Py_UCS4 c = CH(src, p);
            if (!is_ws(c) && c <= 0xFFFF) {
                s->errors++;
                break;
            }
        }
    }
    *c2_out = c2;
    return k;
}

/* read tokens from i until the first one the core does not own, the end
 * of the text or a stop after a tag; returns that offset, -1 on error */
static Py_ssize_t run(Scan *s, Py_ssize_t i, int empty_end_tag)
{
    if (META_CHARSET == NULL) {
        PyErr_SetString(PyExc_RuntimeError, "_native.setup() was not called");
        return -1;
    }
    while (i < s->src.n && !s->stop) {
        Py_UCS4 c2;
        Py_ssize_t k = text_run(s, i, empty_end_tag, &c2);
        if (k < 0)
            return -1;
        if (k >= s->src.n)
            return s->src.n;
        Py_ssize_t next;
        if (c2 == '/') {
            next = end_tag(s, k);
            if (next == 0)
                counts[ST_OFF_END]++;
        } else if (c2 == '!') {
            if (k + 3 < s->src.n && CH(&s->src, k + 2) == '-'
                    && CH(&s->src, k + 3) == '-') {
                next = comment(s, k);
            } else {
                next = declaration(s, k);
                if (next == 0)
                    counts[ST_OFF_DECL]++;
            }
        } else if (c2 == '?') {
            counts[ST_OFF_PI]++;
            next = 0;
        } else {
            next = start_tag(s, k);
        }
        if (next <= 0)
            return next < 0 ? -1 : k;
        i = next;
    }
    return i;
}

static PyObject *scan(PyObject *self, PyObject *const *args, Py_ssize_t nargs)
{
    if (nargs != 8) {
        PyErr_SetString(PyExc_TypeError, "scan() takes 8 arguments");
        return NULL;
    }
    Scan s;
    memset(&s, 0, sizeof s);
    PyObject *t = args[0], *stack = args[3], *b = args[4];
    Py_ssize_t i = PyLong_AsSsize_t(args[1]);
    int empty_end_tag = PyObject_IsTrue(args[5]);
    if ((i == -1 || empty_end_tag < 0) && PyErr_Occurred())
        return NULL;
    if (!PyUnicode_Check(t) || !NodeStore_Check(args[2])
            || !PyList_Check(stack)
            || (args[6] != Py_None && !PyUnicode_Check(args[6]))) {
        PyErr_SetString(PyExc_TypeError,
                        "scan(str, int, NodeStore, list, builder, bool,"
                        " str | None, on_charset)");
        return NULL;
    }
    s.st = (NodeStore *)args[2];
    s.on_charset = args[7] == Py_None ? NULL : args[7];
    /* the store's offsets index one text: the first scan's */
    if (s.st->src == NULL) {
        Py_INCREF(t);
        s.st->src = t;
    } else if (s.st->src != t) {
        PyErr_SetString(PyExc_ValueError,
                        "scan(): the store indexes another text");
        return NULL;
    }
    if (src_init(&s.src, t) < 0)
        return NULL;
    PyObject *v = PyObject_GetAttr(b, S_IN_MATH_OR_SVG);
    if (v == NULL)
        return NULL;
    long math_or_svg = PyLong_AsLong(v);
    Py_DECREF(v);
    if (math_or_svg == -1 && PyErr_Occurred())
        return NULL;
    s.math_or_svg = math_or_svg;
    if (stack_from(&s, stack) < 0) {
        PyMem_Free(s.stack);
        return NULL;
    }
    s.charset = Py_NewRef(args[6]);

    /* the open stack and the math/svg counter live in C while the scan
     * runs (no Python code that runs meanwhile reads them) and are
     * written back at its end */
    i = run(&s, i, empty_end_tag);
    if (i >= 0 && stack_to(&s, stack) < 0)
        i = -1;
    PyMem_Free(s.stack);
    if (i >= 0 && s.math_or_svg != math_or_svg) {
        v = PyLong_FromLong(s.math_or_svg);
        if (v == NULL || PyObject_SetAttr(b, S_IN_MATH_OR_SVG, v) < 0)
            i = -1;
        Py_XDECREF(v);
    }
    if (i < 0) {
        Py_DECREF(s.charset);
        return NULL;
    }
    return Py_BuildValue("nlNO", i, s.errors, s.charset,
                         s.stop ? Py_True : Py_False);
}

/* --- density extraction ---------------------------------------------------
 *
 * density() is extract(strip="density") over DocBuilder.nodes: the same
 * walk, blocks and scores as the Python loop in extract.py, which stays the
 * reference (tests/test_extract_native.py compares the two field for
 * field).  The walk is iterative over a heap stack; a text node's block is
 * found through an array indexed by its owner.  It reads every node
 * through node_ref(): a node without a record is read from its struct and
 * its text from the source buffer, so a store that Python never read
 * builds no record.  Entity decoding calls back into
 * chars.unescape_entities, so there is one decoder.  The two thresholds
 * are extract.py's module constants, read here as doubles.
 */

typedef struct {
    Py_ssize_t node, owner;  /* owner: the nearest block ancestor, -1 none */
    int link;                /* inside an <a> */
} Frame;

typedef struct {
    PyObject *str;           /* the piece is str[a:b] (owned) */
    Py_ssize_t a, b;
    Py_ssize_t start, end;   /* its source span; start < 0: none */
    Py_ssize_t block;
} Piece;

typedef struct {
    PyObject *owner_tag;     /* owned */
    Py_ssize_t link_chars, first, count;
} Block;

typedef struct {
    Frame *stack;
    Piece *pieces;
    Block *blocks;
    Py_ssize_t n_stack, cap_stack, n_pieces, cap_pieces, n_blocks, cap_blocks;
    Py_ssize_t n_nodes;      /* len(nodes) on entry, what block_of covers */
    Py_ssize_t *block_of;    /* owner + 1 -> open block index, -1 none */
    Py_ssize_t *order;       /* piece indices grouped by block */
} Density;

/* chars.trim's whitespace: the end of the leading run and the start of the
 * trailing run of s[from:to] */
static Py_ssize_t trim_start(PyObject *s, Py_ssize_t from, Py_ssize_t to)
{
    int kind = PyUnicode_KIND(s);
    const void *data = PyUnicode_DATA(s);
    while (from < to && is_ws(PyUnicode_READ(kind, data, from)))
        from++;
    return from;
}

static Py_ssize_t trim_end(PyObject *s, Py_ssize_t from, Py_ssize_t to)
{
    int kind = PyUnicode_KIND(s);
    const void *data = PyUnicode_DATA(s);
    while (to > from && is_ws(PyUnicode_READ(kind, data, to - 1)))
        to--;
    return to;
}

/* the text or CDATA node reached as ``f`` joins its owner's open block or
 * opens a new one */
static int add_piece(Density *d, NodeStore *st, long kind, Frame f,
                     PyObject *unescape)
{
    PyObject *nd;
    Node *x = node_ref(st, f.node, &nd);
    if (x == NULL)
        return -1;
    Piece p = {NULL, 0, 0, -1, -1, 0};
    int poss_ent;
    if (nd == NULL) {
        p.str = st->src;
        p.a = x->a;
        p.b = x->b;
        p.start = x->src_start;
        p.end = x->src_end;
        poss_ent = x->poss_ent;
    } else {
        PyObject *text = PyList_GET_ITEM(nd, N_CONTENT);
        PyObject *start = PyList_GET_ITEM(nd, N_SRC_START);
        if (!PyUnicode_Check(text) || !PyLong_Check(start)) {
            PyErr_Format(PyExc_TypeError, "node %zd: malformed text record",
                         f.node);
            return -1;
        }
        if (PyUnicode_READY(text) < 0)
            return -1;
        p.str = text;
        p.b = PyUnicode_GET_LENGTH(text);
        p.start = PyLong_AsSsize_t(start);
        if (p.start == -1 && PyErr_Occurred())
            return -1;
        if (p.start >= 0) {
            p.end = PyLong_AsSsize_t(PyList_GET_ITEM(nd, N_SRC_END));
            if (p.end == -1 && PyErr_Occurred())
                return -1;
        }
        poss_ent = PyObject_IsTrue(PyList_GET_ITEM(nd, N_POSS_ENT));
        if (poss_ent < 0)
            return -1;
    }
    Py_INCREF(p.str);
    if (kind == TEXT && poss_ent) {
        Py_ssize_t amp = PyUnicode_FindChar(p.str, '&', p.a, p.b, 1);
        if (amp == -2)
            goto fail;
        if (amp >= 0) {
            /* the call may run any Python code: no node is read past it */
            PyObject *raw = PyUnicode_Substring(p.str, p.a, p.b);
            Py_SETREF(p.str, raw == NULL ? NULL
                                         : PyObject_CallOneArg(unescape, raw));
            Py_XDECREF(raw);
            if (p.str == NULL || !PyUnicode_Check(p.str)
                    || PyUnicode_READY(p.str) < 0) {
                if (p.str != NULL && !PyErr_Occurred())
                    PyErr_SetString(PyExc_TypeError,
                                    "unescape_entities returned a non-str");
                goto fail;
            }
            p.a = 0;
            p.b = PyUnicode_GET_LENGTH(p.str);
        }
    }

    Py_ssize_t *open = &d->block_of[f.owner + 1];
    if (*open < 0) {
        PyObject *owner_tag = S_EMPTY;
        if (f.owner >= 0 && (owner_tag = tag_lc_at(st, f.owner)) == NULL)
            goto fail;
        if (reserve((void **)&d->blocks, &d->cap_blocks, d->n_blocks + 1,
                    sizeof(Block)) < 0)
            goto fail;
        Block *b = &d->blocks[d->n_blocks];
        Py_INCREF(owner_tag);
        b->owner_tag = owner_tag;
        b->link_chars = b->count = 0;
        *open = d->n_blocks++;
    }
    if (reserve((void **)&d->pieces, &d->cap_pieces, d->n_pieces + 1,
                sizeof(Piece)) < 0)
        goto fail;
    Block *b = &d->blocks[*open];
    b->count++;
    if (f.link) {
        Py_ssize_t a = trim_start(p.str, p.a, p.b);
        b->link_chars += trim_end(p.str, a, p.b) - a;
    }
    p.block = *open;
    d->pieces[d->n_pieces++] = p;
    return 0;

fail:
    Py_XDECREF(p.str);
    return -1;
}

/* push node i's children onto the stack as ``child`` frames, the first
 * child on top */
static int push_children(Density *d, NodeStore *st, Py_ssize_t i,
                         PyObject *nd, Frame child)
{
    if (nd != NULL) {
        PyObject *children = PyList_GET_ITEM(nd, N_CHILDREN);
        if (children == Py_None)
            return 0;
        Py_ssize_t m = PyList_GET_SIZE(children);
        if (reserve((void **)&d->stack, &d->cap_stack, d->n_stack + m,
                    sizeof(Frame)) < 0)
            return -1;
        for (Py_ssize_t j = m - 1; j >= 0; j--) {
            PyObject *c = PyList_GET_ITEM(children, j);
            child.node = PyLong_Check(c) ? PyLong_AsSsize_t(c) : -1;
            if (child.node < 0 || child.node >= d->n_nodes) {
                if (!PyErr_Occurred())
                    PyErr_Format(PyExc_IndexError,
                                 "node %zd: child %zd is not a node", i, j);
                return -1;
            }
            d->stack[d->n_stack++] = child;
        }
        return 0;
    }
    Py_ssize_t base = d->n_stack;
    for (Py_ssize_t c = st->v[i].first; c >= 0; c = st->v[c].next) {
        if (reserve((void **)&d->stack, &d->cap_stack, d->n_stack + 1,
                    sizeof(Frame)) < 0)
            return -1;
        child.node = c;
        d->stack[d->n_stack++] = child;
    }
    for (Py_ssize_t lo = base, hi = d->n_stack - 1; lo < hi; lo++, hi--) {
        Frame tmp = d->stack[lo];
        d->stack[lo] = d->stack[hi];
        d->stack[hi] = tmp;
    }
    return 0;
}

/* walk the tree from the root, filling d's pieces and blocks */
static int walk(Density *d, NodeStore *st, PyObject *drop, PyObject *inl,
                PyObject *unescape)
{
    if (reserve((void **)&d->stack, &d->cap_stack, 1, sizeof(Frame)) < 0)
        return -1;
    d->stack[d->n_stack++] = (Frame){0, -1, 0};
    while (d->n_stack) {
        Frame f = d->stack[--d->n_stack];
        long kind = kind_at(st, f.node);
        if (kind == -1 && PyErr_Occurred())
            return -1;
        if (kind == TEXT || kind == CDATA) {
            if (add_piece(d, st, kind, f, unescape) < 0)
                return -1;
            continue;
        }
        if (kind != ELEMENT)
            continue;
        PyObject *nd;
        if (node_ref(st, f.node, &nd) == NULL)
            return -1;
        PyObject *tag = tag_lc_at(st, f.node);
        if (tag == NULL)
            return -1;
        if (nd != NULL) {
            PyObject *children = PyList_GET_ITEM(nd, N_CHILDREN);
            if (children != Py_None && !PyList_Check(children)) {
                PyErr_Format(PyExc_TypeError,
                             "node %zd: malformed element record", f.node);
                return -1;
            }
        }
        Frame child = {0, f.node, f.link};
        if (f.node != 0) {
            int dropped = PySet_Contains(drop, tag);
            int inline_ = dropped ? 0 : PySet_Contains(inl, tag);
            if (dropped < 0 || inline_ < 0)
                return -1;
            if (dropped)
                continue;
            if (inline_) {
                child.owner = f.owner;
                child.link = f.link || (PyUnicode_GET_LENGTH(tag) == 1
                                        && PyUnicode_READ_CHAR(tag, 0) == 'a');
            }
        }
        /* a block element ends the enclosing block's open text run */
        if (child.owner == f.node)
            d->block_of[f.owner + 1] = -1;
        if (push_children(d, st, f.node, nd, child) < 0)
            return -1;
    }
    return 0;
}

/* score each block in creation order; append the kept blocks' trimmed text
 * (separators included) to ``parts`` and their spans to ``starts`` and
 * ``ends`` */
static int score(Density *d, PyObject *boost, double min_chars,
                 double max_link, PyObject *parts, PyObject *starts,
                 PyObject *ends, long *kept, long *total)
{
    Py_ssize_t first = 0;
    for (Py_ssize_t k = 0; k < d->n_blocks; k++) {
        d->blocks[k].first = first;
        first += d->blocks[k].count;
        d->blocks[k].count = 0;
    }
    d->order = PyMem_New(Py_ssize_t, d->n_pieces ? d->n_pieces : 1);
    if (d->order == NULL) {
        PyErr_NoMemory();
        return -1;
    }
    for (Py_ssize_t p = 0; p < d->n_pieces; p++) {
        Block *b = &d->blocks[d->pieces[p].block];
        d->order[b->first + b->count++] = p;
    }

    for (Py_ssize_t k = 0; k < d->n_blocks; k++) {
        Block *b = &d->blocks[k];
        const Py_ssize_t *idx = d->order + b->first;
        /* the trimmed block runs from piece lp at lo to piece tp at to */
        Py_ssize_t lp = -1, lo = 0, tp = 0, to = 0;
        for (Py_ssize_t j = 0; j < b->count; j++) {
            const Piece *p = &d->pieces[idx[j]];
            lo = trim_start(p->str, p->a, p->b);
            if (lo < p->b) {
                lp = j;
                break;
            }
        }
        if (lp < 0)
            continue;
        for (tp = b->count - 1; tp >= lp; tp--) {
            const Piece *p = &d->pieces[idx[tp]];
            Py_ssize_t from = tp == lp ? lo : p->a;
            to = trim_end(p->str, from, p->b);
            if (to > from)
                break;
        }
        Py_ssize_t chars = to - lo;
        if (tp > lp)  /* lo is in piece lp, to in piece tp */
            chars = d->pieces[idx[lp]].b - lo + to - d->pieces[idx[tp]].a;
        for (Py_ssize_t j = lp + 1; j < tp; j++)
            chars += d->pieces[idx[j]].b - d->pieces[idx[j]].a;
        ++*total;
        if ((double)b->link_chars / (double)chars > max_link)
            continue;
        if (!((double)chars >= min_chars)) {
            int boosted = PySet_Contains(boost, b->owner_tag);
            if (boosted < 0)
                return -1;
            if (!boosted)
                continue;
        }
        if (++*kept > 1 && PyList_Append(parts, S_BLOCK_SEP) < 0)
            return -1;
        for (Py_ssize_t j = lp; j <= tp; j++) {
            const Piece *p = &d->pieces[idx[j]];
            PyObject *piece = PyUnicode_Substring(
                p->str, j == lp ? lo : p->a, j == tp ? to : p->b);
            if (piece == NULL || PyList_Append(parts, piece) < 0) {
                Py_XDECREF(piece);
                return -1;
            }
            Py_DECREF(piece);
        }
        for (Py_ssize_t j = 0; j < b->count; j++) {
            const Piece *p = &d->pieces[idx[j]];
            if (p->start < 0)
                continue;
            PyObject *s = PyLong_FromSsize_t(p->start);
            PyObject *e = PyLong_FromSsize_t(p->end);
            int bad = s == NULL || e == NULL || PyList_Append(starts, s) < 0
                || PyList_Append(ends, e) < 0;
            Py_XDECREF(s);
            Py_XDECREF(e);
            if (bad)
                return -1;
        }
    }
    return 0;
}

/* density(st, *args) for the six arguments after the store: the
 * 7-tuple, NULL on error */
static PyObject *density_of(NodeStore *st, PyObject *const *args)
{
    if (!PyAnySet_Check(args[0]) || !PyAnySet_Check(args[1])
            || !PyAnySet_Check(args[2])) {
        PyErr_SetString(PyExc_TypeError,
                        "density(NodeStore, set, set, set, min_block_chars,"
                        " max_link_density, unescape)");
        return NULL;
    }
    PyObject *unescape = args[5];
    double min_chars = PyFloat_AsDouble(args[3]);
    if (min_chars == -1.0 && PyErr_Occurred())
        return NULL;
    double max_link = PyFloat_AsDouble(args[4]);
    if (max_link == -1.0 && PyErr_Occurred())
        return NULL;

    Density d = {0};
    PyObject *parts = NULL, *starts = NULL, *ends = NULL, *result = NULL;
    long kept = 0, total = 0, text_nodes = 0;
    Py_ssize_t n = st->n;
    for (Py_ssize_t i = 0; i < n; i++) {
        long kind = kind_at(st, i);
        if (kind == -1 && PyErr_Occurred())
            goto done;
        text_nodes += kind == TEXT || kind == CDATA;
    }
    d.n_nodes = n;
    d.block_of = PyMem_New(Py_ssize_t, n + 1);
    if (d.block_of == NULL) {
        PyErr_NoMemory();
        goto done;
    }
    for (Py_ssize_t i = 0; i <= n; i++)
        d.block_of[i] = -1;
    if (walk(&d, st, args[0], args[1], unescape) < 0)
        goto done;
    parts = PyList_New(0);
    starts = PyList_New(0);
    ends = PyList_New(0);
    if (parts == NULL || starts == NULL || ends == NULL
            || score(&d, args[2], min_chars, max_link, parts, starts, ends,
                     &kept, &total) < 0)
        goto done;
    PyObject *text = PyUnicode_Join(S_EMPTY, parts);
    if (text != NULL)
        result = Py_BuildValue("(NOOllnl)", text, starts, ends, kept, total,
                               n - 1, text_nodes);

done:
    for (Py_ssize_t p = 0; p < d.n_pieces; p++)
        Py_DECREF(d.pieces[p].str);
    for (Py_ssize_t k = 0; k < d.n_blocks; k++)
        Py_DECREF(d.blocks[k].owner_tag);
    PyMem_Free(d.stack);
    PyMem_Free(d.pieces);
    PyMem_Free(d.blocks);
    PyMem_Free(d.block_of);
    PyMem_Free(d.order);
    Py_XDECREF(parts);
    Py_XDECREF(starts);
    Py_XDECREF(ends);
    return result;
}

static PyObject *density(PyObject *self, PyObject *const *args,
                         Py_ssize_t nargs)
{
    if (nargs != 7 || !NodeStore_Check(args[0])) {
        PyErr_SetString(PyExc_TypeError,
                        "density(NodeStore, set, set, set, min_block_chars,"
                        " max_link_density, unescape)");
        return NULL;
    }
    return density_of((NodeStore *)args[0], args + 1);
}

/* --- the parse-end census ---------------------------------------------------
 *
 * census() is DocBuilder.count_unclosed_flat in one loop over the nodes:
 * (unclosed, implicitly closed) non-synthetic elements.  The Python method
 * stays the reference (tests/test_parser_fastpaths.py compares the two).
 */

static int census_of(NodeStore *st, Py_ssize_t *unclosed,
                     Py_ssize_t *implicitly)
{
    *unclosed = *implicitly = 0;
    for (Py_ssize_t i = 0; i < st->n; i++) {
        long kind = kind_at(st, i), closure;
        if (kind == -1 && PyErr_Occurred())
            return -1;
        if (kind != ELEMENT)
            continue;
        int synthetic = synthetic_at(st, i);
        if (synthetic < 0)
            return -1;
        if (synthetic)
            continue;
        closure = closure_at(st, i);
        if (closure == -1 && PyErr_Occurred())
            return -1;
        *unclosed += closure == UNCLOSED;
        *implicitly += closure == IMPLICITLY_CLOSED;
    }
    return 0;
}

static PyObject *census(PyObject *self, PyObject *nodes)
{
    if (!NodeStore_Check(nodes)) {
        PyErr_SetString(PyExc_TypeError, "census(NodeStore)");
        return NULL;
    }
    Py_ssize_t unclosed, implicitly;
    if (census_of((NodeStore *)nodes, &unclosed, &implicitly) < 0)
        return NULL;
    return Py_BuildValue("nn", unclosed, implicitly);
}

/* --- the token count --------------------------------------------------------
 *
 * token_count(t) is len(t.split()): the number of runs of characters that
 * are not Py_UNICODE_ISSPACE, the whitespace str.split() splits on.
 */

#define COUNT_RUNS(TYPE)                                                \
    do {                                                                \
        const TYPE *d = (const TYPE *)data;                             \
        for (Py_ssize_t p = 0; p < n; p++) {                            \
            int word = !Py_UNICODE_ISSPACE(d[p]);                       \
            runs += word & !in_word;                                    \
            in_word = word;                                             \
        }                                                               \
    } while (0)

/* the token count of a ready str */
static Py_ssize_t tokens_of(PyObject *t)
{
    const void *data = PyUnicode_DATA(t);
    Py_ssize_t n = PyUnicode_GET_LENGTH(t), runs = 0;
    int in_word = 0;
    switch (PyUnicode_KIND(t)) {
    case PyUnicode_1BYTE_KIND: COUNT_RUNS(Py_UCS1); break;
    case PyUnicode_2BYTE_KIND: COUNT_RUNS(Py_UCS2); break;
    default: COUNT_RUNS(Py_UCS4);
    }
    return runs;
}

static PyObject *token_count(PyObject *self, PyObject *t)
{
    if (!PyUnicode_Check(t)) {
        PyErr_SetString(PyExc_TypeError, "token_count(str)");
        return NULL;
    }
    if (PyUnicode_READY(t) < 0)
        return NULL;
    return PyLong_FromSsize_t(tokens_of(t));
}

/* --- the extract page ---------------------------------------------------------
 *
 * page(text, on_charset, DROP_TAGS, INLINE_TAGS, BOOST_TAGS,
 * min_block_chars, max_link_density, unescape_entities) is the extract
 * kernel's row for one decoded page in one call: parse(text,
 * positions=False, on_charset=on_charset), then extract(strip="density").
 * The text comes line-normalized, as parse() normalizes it.  page() scans
 * it into a store of its own, with a struct root, and runs census(),
 * density(), the line count and the token count of the extracted text.
 * It returns (text, span_starts, span_ends, declared_charset, errors,
 * unclosed, implicitly_closed, node_count, text_node_count, lines,
 * token_count), or None when the scan stops early:
 * - at a token it hands to the general machine ("handoff" in stats());
 * - after the meta tag at which the on_charset hook answered true, the
 *   charset retry's stop (a None hook only reports the charset).
 * The kernel runs the Python path for a hand-off and calls page() once
 * more on the re-decoded text for a retry.  Entity decoding in density()
 * calls unescape_entities, as it does for a parse.
 */

#define COUNT_NL(TYPE)                                                  \
    do {                                                                \
        const TYPE *d = (const TYPE *)s->data;                          \
        for (Py_ssize_t p = 0; p < s->n; p++)                           \
            m += d[p] == '\n';                                          \
    } while (0)

/* the '\n' characters of the text */
static Py_ssize_t newlines(const Src *s)
{
    Py_ssize_t m = 0;
    switch (s->kind) {
    case PyUnicode_1BYTE_KIND: COUNT_NL(Py_UCS1); break;
    case PyUnicode_2BYTE_KIND: COUNT_NL(Py_UCS2); break;
    default: COUNT_NL(Py_UCS4);
    }
    return m;
}

static PyObject *page(PyObject *self, PyObject *const *args, Py_ssize_t nargs)
{
    if (nargs != 8 || !PyUnicode_Check(args[0])) {
        PyErr_SetString(PyExc_TypeError,
                        "page(str, on_charset, DROP_TAGS, INLINE_TAGS,"
                        " BOOST_TAGS, min_block_chars, max_link_density,"
                        " unescape)");
        return NULL;
    }
    PyObject *t = args[0];
    Scan s;
    memset(&s, 0, sizeof s);
    PyObject *result = NULL, *ext = NULL;
    s.st = (NodeStore *)NodeStoreType.tp_alloc(&NodeStoreType, 0);
    if (s.st == NULL)
        goto done;
    s.st->src = Py_NewRef(t);
    if (new_wrapper(s.st, S_ROOT, -1) < 0 || push_stack(&s, 0) < 0
            || src_init(&s.src, t) < 0)
        goto done;
    s.on_charset = args[1] == Py_None ? NULL : args[1];
    s.charset = Py_NewRef(Py_None);

    Py_ssize_t i = run(&s, 0, 1);
    if (i < 0)
        goto done;
    if (s.stop || i < s.src.n) {
        if (!s.stop)
            counts[ST_HANDOFF]++;
        result = Py_NewRef(Py_None);
        goto done;
    }
    Py_ssize_t unclosed, implicitly;
    if (census_of(s.st, &unclosed, &implicitly) < 0
            || (ext = density_of(s.st, args + 2)) == NULL)
        goto done;
    Py_ssize_t lines = newlines(&s.src) + 1;
    /* density()'s (text, starts, ends, kept, total, nodes, text nodes) */
    PyObject *text = PyTuple_GET_ITEM(ext, 0);
    result = Py_BuildValue("(OOOOlnnOOnn)", text, PyTuple_GET_ITEM(ext, 1),
                           PyTuple_GET_ITEM(ext, 2), s.charset, s.errors,
                           unclosed, implicitly, PyTuple_GET_ITEM(ext, 5),
                           PyTuple_GET_ITEM(ext, 6), lines,
                           tokens_of(text));
    if (result != NULL)
        counts[ST_SETTLED]++;
done:
    Py_XDECREF(ext);
    Py_XDECREF(s.charset);
    PyMem_Free(s.stack);
    Py_XDECREF(s.st);
    return result;
}

static PyObject *setup(PyObject *self, PyObject *args)
{
    PyObject *oic, *voids, *raw, *fmt, *markers, *meta_charset;
    if (!PyArg_ParseTuple(args, "O!O!O!O!O!O", &PyDict_Type, &oic,
                          &PyFrozenSet_Type, &voids, &PyTuple_Type, &raw,
                          &PyFrozenSet_Type, &fmt, &PyFrozenSet_Type,
                          &markers, &meta_charset))
        return NULL;
    Py_INCREF(meta_charset);
    Py_XSETREF(META_CHARSET, meta_charset);
    Py_INCREF(fmt);
    Py_XSETREF(FORMATTING_ELEMENTS, fmt);
    Py_INCREF(markers);
    Py_XSETREF(MARKER_ELEMENTS, markers);
    Py_INCREF(oic);
    Py_XSETREF(OPEN_IMPLIES_CLOSE, oic);
    Py_INCREF(voids);
    Py_XSETREF(VOID_ELEMENTS, voids);
    Py_INCREF(raw);
    Py_XSETREF(RAW_TEXT_TAGS, raw);
    intern_clear();
    Py_RETURN_NONE;
}

static PyObject *stats(PyObject *self, PyObject *unused)
{
    PyObject *d = PyDict_New();
    if (d == NULL)
        return NULL;
    for (int j = 0; j < ST_COUNT; j++) {
        PyObject *v = PyLong_FromUnsignedLongLong(counts[j]);
        if (v == NULL || PyDict_SetItemString(d, STAT_NAMES[j], v) < 0) {
            Py_XDECREF(v);
            Py_DECREF(d);
            return NULL;
        }
        Py_DECREF(v);
    }
    return d;
}

static PyObject *reset_stats(PyObject *self, PyObject *unused)
{
    memset(counts, 0, sizeof counts);
    Py_RETURN_NONE;
}

static PyObject *examine_table_py(PyObject *self, PyObject *const *args,
                                  Py_ssize_t nargs)
{
    Py_ssize_t table = nargs == 2 ? PyLong_AsSsize_t(args[1]) : -1;
    if (table == -1 && PyErr_Occurred())
        return NULL;
    if (nargs != 2 || !NodeStore_Check(args[0])) {
        PyErr_SetString(PyExc_TypeError, "examine_table(NodeStore, int)");
        return NULL;
    }
    if (examine_table((NodeStore *)args[0], table) < 0)
        return NULL;
    Py_RETURN_NONE;
}

static PyMethodDef methods[] = {
    {"scan", (PyCFunction)(void (*)(void))scan, METH_FASTCALL,
     "scan(t, i, node_store, open_stack, builder, empty_end_tag, charset,"
     " on_charset) -> (offset of the first token not owned, errors counted,"
     " charset, stopped)"},
    {"page", (PyCFunction)(void (*)(void))page, METH_FASTCALL,
     "page(text, on_charset, DROP_TAGS, INLINE_TAGS, BOOST_TAGS,"
     " min_block_chars, max_link_density, unescape_entities) -> (text,"
     " span_starts, span_ends, declared_charset, errors, unclosed,"
     " implicitly_closed, node_count, text_node_count, lines, token_count)"
     " or None"},
    {"examine_table", (PyCFunction)(void (*)(void))examine_table_py,
     METH_FASTCALL, "examine_table(node_store, table): the core's"
     " DocBuilder._examine_table"},
    {"density", (PyCFunction)(void (*)(void))density, METH_FASTCALL,
     "density(node_store, DROP_TAGS, INLINE_TAGS, BOOST_TAGS, min_block_chars,"
     " max_link_density, unescape_entities) -> (text, span_starts,"
     " span_ends, kept_blocks, total_blocks, node_count, text_node_count)"},
    {"census", census, METH_O,
     "census(node_store) -> (unclosed, implicitly closed) non-synthetic"
     " elements"},
    {"token_count", token_count, METH_O,
     "token_count(t) -> len(t.split())"},
    {"setup", setup, METH_VARARGS,
     "setup(OPEN_IMPLIES_CLOSE, VOID_ELEMENTS, RAW_TEXT_TAGS,"
     " FORMATTING_ELEMENTS, MARKER_ELEMENTS, meta_charset)"},
    {"stats", stats, METH_NOARGS,
     "per-branch token counts, page() outcomes, meta tags sniffed in"
     " Python and records built, since reset"},
    {"reset_stats", reset_stats, METH_NOARGS, "zero the counts"},
    {NULL, NULL, 0, NULL}
};

static struct PyModuleDef module = {
    PyModuleDef_HEAD_INIT, "_native",
    "Native parse core and node storage, table repair, density extraction,"
    " the parse-end census, the token count and the one-call extract page.",
    -1,
    methods,
    NULL, NULL, NULL, NULL
};

static PyObject *intern(const char *s)
{
    return PyUnicode_InternFromString(s);
}

PyMODINIT_FUNC PyInit__native(void)
{
    for (int j = 0; j < 8; j++)  /* node kinds and closure states */
        INT[j] = PyLong_FromLong(j);
    S_EMPTY = PyUnicode_New(0, 0);
    S_DQ = intern("\"");
    S_SQ = intern("'");
    S_EQ = intern("=");
    S_LT_SLASH = intern("</");
    S_IN_MATH_OR_SVG = intern("in_math_or_svg");
    S_LOWER = intern("lower");
    S_BLOCK_SEP = intern("\n\n");
    S_ROOT = intern("/");
    S_TR = intern("tr");
    S_THEAD = intern("thead");
    S_TBODY = intern("tbody");
    T_EMPTY = PyTuple_New(0);
    if (PyErr_Occurred() || PyType_Ready(&NodeStoreType) < 0)
        return NULL;
    PyObject *m = PyModule_Create(&module);
    if (m == NULL || PyModule_AddIntMacro(m, INTERN_SLOTS) < 0
            || PyModule_AddIntMacro(m, INTERN_MAX_LEN) < 0
            || PyModule_AddObjectRef(m, "NodeStore",
                                     (PyObject *)&NodeStoreType) < 0) {
        Py_XDECREF(m);
        return NULL;
    }
    return m;
}
