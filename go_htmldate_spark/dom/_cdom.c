/* The C DOM kernel: the one product DOM of the extraction cascade.
 *
 * Two pieces:
 *   - NodeBase: a C type with the exact field layout of parser.Node
 *     (kind, tag, _attrs, _raw_attrs, children, parent, data) and its
 *     attr() method.  The Python Node subclasses it with
 *     __slots__ = () and supplies the other methods, so instances
 *     created here are full Nodes.
 *   - build_into(root, html): the tokenizer.  Semantics mirror
 *     fastparse.tokenize_into token for token (same token grammar as
 *     its _TOKEN regex, same implied-close / rawtext / void handling),
 *     which is the behavior the golden suites pin.  Differential
 *     parity against the pure-Python tokenizer is enforced by
 *     tests/test_cdom_parity.py over the full mock corpus.
 *
 * The scan runs over the string's cached UTF-8 buffer; substrings are
 * decoded back with PyUnicode_DecodeUTF8 (all token delimiters are
 * ASCII, so ranges always fall on codepoint boundaries).  Entity
 * unescaping is gated on '&' followed by [A-Za-z#] (the same gate as
 * fastparse._unescape), substituted in C when every entity is a
 * provably-exact case (fast_unescape), and falls back to
 * html.unescape for anything else.
 *
 * Built on demand by cnative.py with the system C compiler, which is
 * a requirement: importing the package fails when the build fails.
 * Documents build_into refuses (ValueError: tag names of 256+ bytes,
 * lone surrogates) are parsed by fastparse.tokenize_into instead.
 */
#define _GNU_SOURCE /* memmem */
#define PY_SSIZE_T_CLEAN
#include <Python.h>
#include <structmember.h>
#include <string.h>

/* ---------------------------------------------------------------- Node */

typedef struct {
    PyObject_HEAD
    int kind;
    PyObject *tag;
    PyObject *attrs;     /* exposed as _attrs  */
    PyObject *raw_attrs; /* exposed as _raw_attrs */
    PyObject *children;
    PyObject *parent;
    PyObject *data;
} CNode;

/* module globals configured from Python (configure()) */
static PyObject *g_no_attrs = NULL;  /* parser._NO_ATTRS shared list */
static PyObject *g_unescape = NULL;  /* html.unescape */
static PyObject *g_empty = NULL;     /* "" */
static PyObject *g_tagcache = NULL;  /* lowered tag name -> canonical str */
static PyObject *g_html5 = NULL;     /* html.entities.html5, ';'-keys only */

/* forward decl: node_attr's lazy parse reuses the attr tokenizer */
static PyObject *cdom_parse_attrs(PyObject *self, PyObject *arg);

static int
node_traverse(CNode *self, visitproc visit, void *arg)
{
    Py_VISIT(self->tag);
    Py_VISIT(self->attrs);
    Py_VISIT(self->raw_attrs);
    Py_VISIT(self->children);
    Py_VISIT(self->parent);
    Py_VISIT(self->data);
    return 0;
}

static int
node_clear(CNode *self)
{
    Py_CLEAR(self->tag);
    Py_CLEAR(self->attrs);
    Py_CLEAR(self->raw_attrs);
    Py_CLEAR(self->children);
    Py_CLEAR(self->parent);
    Py_CLEAR(self->data);
    return 0;
}

static void
node_dealloc(CNode *self)
{
    PyObject_GC_UnTrack(self);
    node_clear(self);
    Py_TYPE(self)->tp_free((PyObject *)self);
}

static int
node_init(CNode *self, PyObject *args, PyObject *kwds)
{
    static char *kwlist[] = {"kind", "tag", "data", NULL};
    int kind;
    PyObject *tag = NULL, *data = NULL;
    if (!PyArg_ParseTupleAndKeywords(args, kwds, "i|UU", kwlist, &kind,
                                     &tag, &data))
        return -1;
    if (tag == NULL)
        tag = g_empty;
    if (data == NULL)
        data = g_empty;
    self->kind = kind;
    Py_INCREF(tag);
    Py_XSETREF(self->tag, tag);
    Py_INCREF(g_no_attrs);
    Py_XSETREF(self->attrs, g_no_attrs);
    Py_INCREF(Py_None);
    Py_XSETREF(self->raw_attrs, Py_None);
    Py_CLEAR(self->children); /* lazily created via the getset */
    Py_INCREF(Py_None);
    Py_XSETREF(self->parent, Py_None);
    Py_INCREF(data);
    Py_XSETREF(self->data, data);
    return 0;
}

static PyMemberDef node_members[] = {
    {"kind", T_INT, offsetof(CNode, kind), 0, "0 text, 1 element, 2 comment"},
    {"tag", T_OBJECT_EX, offsetof(CNode, tag), 0, "lowercased tag name"},
    {"_attrs", T_OBJECT_EX, offsetof(CNode, attrs), 0,
     "parsed attr list or None when deferred"},
    {"_raw_attrs", T_OBJECT_EX, offsetof(CNode, raw_attrs), 0,
     "raw tag text pending lazy attr parse"},
    {"parent", T_OBJECT_EX, offsetof(CNode, parent), 0, "parent node or None"},
    {"data", T_OBJECT_EX, offsetof(CNode, data), 0, "text/comment payload"},
    {NULL},
};

/* children is a getset, not a member: the list is created lazily on
 * first access/append — the majority of nodes (text, void elements)
 * never have children, and skipping their PyList_New is a measurable
 * slice of parse time. The created list is cached in the slot so
 * Python-side `node.children.append(...)` mutates the stored list. */
static PyObject *
node_get_children(CNode *self, void *closure)
{
    if (self->children == NULL) {
        self->children = PyList_New(0);
        if (self->children == NULL)
            return NULL;
    }
    Py_INCREF(self->children);
    return self->children;
}

static int
node_set_children(CNode *self, PyObject *value, void *closure)
{
    if (value == NULL) {
        Py_CLEAR(self->children);
        return 0;
    }
    /* Every C traversal (render_inner, prune_and_collect,
     * release_subtree) guards with PyList_Check and silently SKIPS a
     * non-list subtree — so an accidental `node.children = (a, b)`
     * would corrupt traversal invisibly. Fail loudly here instead. */
    if (!PyList_Check(value)) {
        PyErr_Format(PyExc_TypeError,
                     "children must be a list, not %.100s",
                     Py_TYPE(value)->tp_name);
        return -1;
    }
    Py_INCREF(value);
    Py_XSETREF(self->children, value);
    return 0;
}

static PyGetSetDef node_getset[] = {
    {"children", (getter)node_get_children, (setter)node_set_children,
     "child list (lazily created)", NULL},
    {NULL},
};

/* attr(name) -> first attribute value, "" when absent (first
 * occurrence wins, like x/net/html).  The meta
 * scan calls this ~7x per <meta>; keeping the lazy parse + linear scan
 * in C removes ~125k Python frames per 1000 eval docs. */
static PyObject *
node_attr(CNode *self, PyObject *name)
{
    PyObject *attrs = self->attrs;
    if (attrs == NULL || attrs == Py_None) {
        PyObject *raw = self->raw_attrs;
        PyObject *parsed;
        if (raw == NULL || raw == Py_None)
            parsed = PyList_New(0); /* `_raw_attrs or ""` parses to [] */
        else
            parsed = cdom_parse_attrs(NULL, raw);
        if (parsed == NULL)
            return NULL;
        Py_XSETREF(self->attrs, parsed); /* cache like the property */
        attrs = parsed;
    }
    /* PySequence_Fast keeps parity with Python's `for k, v in attrs`
     * for any list/tuple-shaped value a caller may have assigned */
    PyObject *fast = PySequence_Fast(attrs, "attrs is not iterable");
    if (fast == NULL)
        return NULL;
    Py_ssize_t n = PySequence_Fast_GET_SIZE(fast);
    PyObject **items = PySequence_Fast_ITEMS(fast);
    for (Py_ssize_t i = 0; i < n; i++) {
        PyObject *pair = items[i];
        if (!PyTuple_Check(pair) || PyTuple_GET_SIZE(pair) != 2) {
            Py_DECREF(fast);
            PyErr_SetString(PyExc_ValueError,
                            "attrs entries must be (name, value) tuples");
            return NULL;
        }
        int eq = PyObject_RichCompareBool(PyTuple_GET_ITEM(pair, 0), name,
                                          Py_EQ);
        if (eq < 0) {
            Py_DECREF(fast);
            return NULL;
        }
        if (eq) {
            PyObject *v = PyTuple_GET_ITEM(pair, 1);
            Py_INCREF(v);
            Py_DECREF(fast);
            return v;
        }
    }
    Py_DECREF(fast);
    Py_INCREF(g_empty);
    return g_empty;
}

static PyMethodDef node_methods[] = {
    {"attr", (PyCFunction)node_attr, METH_O,
     "first attribute value by (lowercased) name, '' when absent"},
    {NULL},
};

static PyTypeObject NodeBase_Type = {
    PyVarObject_HEAD_INIT(NULL, 0)
    .tp_name = "_cdom.NodeBase",
    .tp_basicsize = sizeof(CNode),
    .tp_itemsize = 0,
    .tp_dealloc = (destructor)node_dealloc,
    .tp_flags = Py_TPFLAGS_DEFAULT | Py_TPFLAGS_BASETYPE | Py_TPFLAGS_HAVE_GC,
    .tp_doc = "C base for parser.Node (field layout + init only)",
    .tp_traverse = (traverseproc)node_traverse,
    .tp_clear = (inquiry)node_clear,
    .tp_methods = node_methods,
    .tp_members = node_members,
    .tp_getset = node_getset,
    .tp_init = (initproc)node_init,
    .tp_new = PyType_GenericNew,
};

/* ------------------------------------------------------------ tag sets */
/* Mirrors of parser.py's frozensets; tests/test_cdom_parity.py asserts
 * they stay in sync via _cdom.tag_flags(). */

static int
in_list(const char *t, const char *const *set)
{
    for (; *set; set++)
        if (strcmp(t, *set) == 0)
            return 1;
    return 0;
}

static const char *const VOID_TAGS[] = {
    "area", "base", "br", "col", "embed", "hr", "img", "input", "keygen",
    "link", "meta", "param", "source", "track", "wbr", NULL};

static const char *const RAWTEXT_TAGS[] = {
    "script", "style", "textarea", "title", "xmp", "plaintext", NULL};

static const char *const P_CLOSER_TAGS[] = {
    "address", "article", "aside", "blockquote", "details", "div", "dl",
    "fieldset", "figcaption", "figure", "footer", "form", "h1", "h2", "h3",
    "h4", "h5", "h6", "header", "hr", "main", "menu", "nav", "ol", "p",
    "pre", "section", "table", "ul", NULL};

/* tag -> open tags it implicitly closes (parser._SELF_CLOSERS) */
static const char *const *
self_closes(const char *t)
{
    static const char *const LI[] = {"li", NULL};
    static const char *const DTDD[] = {"dt", "dd", NULL};
    static const char *const TR[] = {"tr", "td", "th", NULL};
    static const char *const TDTH[] = {"td", "th", NULL};
    static const char *const OPT[] = {"option", NULL};
    static const char *const OPTG[] = {"option", "optgroup", NULL};
    switch (t[0]) {
    case 'l':
        if (strcmp(t, "li") == 0) return LI;
        break;
    case 'd':
        if (strcmp(t, "dt") == 0 || strcmp(t, "dd") == 0) return DTDD;
        break;
    case 't':
        if (strcmp(t, "tr") == 0) return TR;
        if (strcmp(t, "td") == 0 || strcmp(t, "th") == 0) return TDTH;
        break;
    case 'o':
        if (strcmp(t, "option") == 0) return OPT;
        if (strcmp(t, "optgroup") == 0) return OPTG;
        break;
    }
    return NULL;
}

/* ------------------------------------------------------------- helpers */

#define IS_ALPHA(c) (((c) >= 'a' && (c) <= 'z') || ((c) >= 'A' && (c) <= 'Z'))
#define IS_NAME(c)                                                      \
    (IS_ALPHA(c) || ((c) >= '0' && (c) <= '9') || (c) == ':' || (c) == '-')
#define IS_ASCII_WS(c)                                                  \
    ((c) == ' ' || (c) == '\t' || (c) == '\n' || (c) == '\r' ||          \
     (c) == '\f' || (c) == '\v')
#define LOWER(c) (((c) >= 'A' && (c) <= 'Z') ? (char)((c) + 32) : (char)(c))

/* decode one UTF-8 codepoint at buf[p]; sets *len to its byte length */
static Py_UCS4
utf8_cp(const char *buf, Py_ssize_t p, Py_ssize_t n, int *len)
{
    unsigned char c = (unsigned char)buf[p];
    if (c < 0x80) {
        *len = 1;
        return c;
    }
    if ((c >> 5) == 0x6 && p + 1 < n) {
        *len = 2;
        return ((Py_UCS4)(c & 0x1f) << 6) | (buf[p + 1] & 0x3f);
    }
    if ((c >> 4) == 0xe && p + 2 < n) {
        *len = 3;
        return ((Py_UCS4)(c & 0x0f) << 12) |
               ((Py_UCS4)(buf[p + 1] & 0x3f) << 6) | (buf[p + 2] & 0x3f);
    }
    if ((c >> 3) == 0x1e && p + 3 < n) {
        *len = 4;
        return ((Py_UCS4)(c & 0x07) << 18) |
               ((Py_UCS4)(buf[p + 1] & 0x3f) << 12) |
               ((Py_UCS4)(buf[p + 2] & 0x3f) << 6) | (buf[p + 3] & 0x3f);
    }
    *len = 1;
    return 0xFFFD;
}

/* Python re's \s for str patterns (and str.isspace) == Py_UNICODE_ISSPACE */
static int
space_at(const char *buf, Py_ssize_t p, Py_ssize_t n, int *len)
{
    unsigned char c = (unsigned char)buf[p];
    if (c < 0x80) {
        *len = 1;
        return IS_ASCII_WS(c) || (c >= 0x1c && c <= 0x1f);
    }
    Py_UCS4 cp = utf8_cp(buf, p, n, len);
    return Py_UNICODE_ISSPACE(cp);
}

/* &[A-Za-z#] anywhere in [p, p+len)? — the fastparse._HAS_ENTITY gate */
static int
has_entity(const char *p, Py_ssize_t len)
{
    const char *end = p + len;
    const char *q = p;
    while ((q = memchr(q, '&', (size_t)(end - q))) != NULL) {
        if (q + 1 < end) {
            char c = q[1];
            if (IS_ALPHA(c) || c == '#')
                return 1;
        }
        q++;
        if (q >= end)
            break;
    }
    return 0;
}

static PyObject *
decode_range(const char *buf, Py_ssize_t a, Py_ssize_t b)
{
    return PyUnicode_DecodeUTF8(buf + a, b - a, NULL);
}

/* ------------------------------------------------- entity fast path */

/* growable byte buffer for fast_unescape output */
typedef struct {
    char *p;
    Py_ssize_t len, cap;
    char inline_buf[512];
} BBuf;

static void
bb_init(BBuf *b)
{
    b->p = b->inline_buf;
    b->len = 0;
    b->cap = (Py_ssize_t)sizeof(b->inline_buf);
}

static void
bb_free(BBuf *b)
{
    if (b->p != b->inline_buf)
        PyMem_Free(b->p);
}

static int
bb_put(BBuf *b, const char *src, Py_ssize_t n)
{
    if (b->len + n > b->cap) {
        Py_ssize_t ncap = b->cap * 2;
        while (b->len + n > ncap)
            ncap *= 2;
        if (b->p == b->inline_buf) {
            char *q = PyMem_Malloc((size_t)ncap);
            if (q == NULL)
                return -1;
            memcpy(q, b->p, (size_t)b->len);
            b->p = q;
        } else {
            char *q = PyMem_Realloc(b->p, (size_t)ncap);
            if (q == NULL)
                return -1;
            b->p = q;
        }
        b->cap = ncap;
    }
    memcpy(b->p + b->len, src, (size_t)n);
    b->len += n;
    return 0;
}

static int
bb_put_cp(BBuf *b, unsigned long cp) /* cp <= 0x2FFF: 1-3 UTF-8 bytes */
{
    char enc[3];
    Py_ssize_t n;
    if (cp < 0x80) {
        enc[0] = (char)cp;
        n = 1;
    } else if (cp < 0x800) {
        enc[0] = (char)(0xC0 | (cp >> 6));
        enc[1] = (char)(0x80 | (cp & 0x3F));
        n = 2;
    } else {
        enc[0] = (char)(0xE0 | (cp >> 12));
        enc[1] = (char)(0x80 | ((cp >> 6) & 0x3F));
        enc[2] = (char)(0x80 | (cp & 0x3F));
        n = 3;
    }
    return bb_put(b, enc, n);
}

#define IS_NAME_CHAR(d)                                                  \
    ((d) != '\t' && (d) != '\n' && (d) != '\f' && (d) != ' ' &&          \
     (d) != '<' && (d) != '&' && (d) != '#' && (d) != ';')

/* Unescape [a, b) of buf when every entity in it is provably handled
 * exactly as html.unescape would: `&name;` with name; a key of the
 * html5 table (the direct-hit branch of _replace_charref), or a
 * numeric charref `&#N;`/`&#xH;` with N in [0x20,0x7E] | [0xA0,0x2FFF]
 * (plain chr(), below every _invalid_charrefs / _invalid_codepoints /
 * noncharacter entry).  Anything else — legacy no-semicolon entities,
 * the longest-prefix rule ("&ampere;" -> "&ere;"), out-of-range
 * numerics — returns NULL without an exception set and the caller
 * falls back to html.unescape on the whole string, so the fast path
 * is byte-exact by construction.
 *
 * Returns a new str, or NULL (error iff PyErr_Occurred()). */
static PyObject *
fast_unescape(const char *buf, Py_ssize_t a, Py_ssize_t b)
{
    if (g_html5 == NULL)
        return NULL; /* not configured: always fall back */
    BBuf out;
    bb_init(&out);
    Py_ssize_t p = a;
    while (p < b) {
        const char *amp = memchr(buf + p, '&', (size_t)(b - p));
        if (amp == NULL) {
            if (bb_put(&out, buf + p, b - p) < 0)
                goto nomem;
            break;
        }
        Py_ssize_t ai = amp - buf;
        if (ai > p && bb_put(&out, buf + p, ai - p) < 0)
            goto nomem;
        p = ai;
        if (p + 1 >= b) { /* trailing lone '&' */
            if (bb_put(&out, "&", 1) < 0)
                goto nomem;
            p++;
            continue;
        }
        char c = buf[p + 1];
        if (c == '#') {
            /* numeric charref; the regex's `;?` makes the semicolon
             * optional, so digits without ';' still substitute ->
             * require ';' here or fall back */
            Py_ssize_t q = p + 2;
            unsigned long num = 0;
            Py_ssize_t d0;
            if (q < b && (buf[q] == 'x' || buf[q] == 'X')) {
                q++;
                d0 = q;
                while (q < b && q - d0 < 8) {
                    char d = buf[q];
                    unsigned long v;
                    if (d >= '0' && d <= '9')
                        v = (unsigned long)(d - '0');
                    else if (d >= 'a' && d <= 'f')
                        v = (unsigned long)(d - 'a' + 10);
                    else if (d >= 'A' && d <= 'F')
                        v = (unsigned long)(d - 'A' + 10);
                    else
                        break;
                    num = num * 16 + v;
                    q++;
                }
            } else {
                d0 = q;
                while (q < b && q - d0 < 8 && buf[q] >= '0' && buf[q] <= '9') {
                    num = num * 10 + (unsigned long)(buf[q] - '0');
                    q++;
                }
            }
            if (q == d0) {
                /* `&#` with no digits: no regex alternative matches
                 * (the name class excludes '#') — literal, copy '&' */
                if (bb_put(&out, "&", 1) < 0)
                    goto nomem;
                p++;
                continue;
            }
            if (q >= b || buf[q] != ';')
                goto fallback; /* no ';', or >7-digit run: punt */
            if (!((num >= 0x20 && num <= 0x7E) ||
                  (num >= 0xA0 && num <= 0x2FFF)))
                goto fallback; /* outside the provably-plain-chr range */
            if (bb_put_cp(&out, num) < 0)
                goto nomem;
            p = q + 1;
        } else if (IS_ALPHA(c)) {
            /* named: exact `&name;` table hit only.  A 33+-char run or
             * a missing ';' can still substitute via the longest-prefix
             * rule, so both fall back. */
            Py_ssize_t q = p + 1;
            while (q < b && q - (p + 1) < 33 && IS_NAME_CHAR(buf[q]))
                q++;
            if (q - (p + 1) > 32 || q >= b || buf[q] != ';')
                goto fallback;
            /* key includes the ';' (html5 direct-hit keys do) */
            PyObject *key = decode_range(buf, p + 1, q + 1);
            if (key == NULL)
                goto err;
            PyObject *rep = PyDict_GetItemWithError(g_html5, key);
            Py_DECREF(key);
            if (rep == NULL) {
                if (PyErr_Occurred())
                    goto err;
                goto fallback; /* prefix rule may apply: punt */
            }
            Py_ssize_t rn;
            const char *rb = PyUnicode_AsUTF8AndSize(rep, &rn);
            if (rb == NULL)
                goto err;
            if (bb_put(&out, rb, rn) < 0)
                goto nomem;
            p = q + 1;
        } else {
            /* '&' + non-alpha, non-'#': every html5 key starts with a
             * letter and the prefix rule needs a table hit, so no
             * substitution is possible — literal '&' */
            if (bb_put(&out, "&", 1) < 0)
                goto nomem;
            p++;
        }
    }
    {
        PyObject *s = PyUnicode_DecodeUTF8(out.p, out.len, NULL);
        bb_free(&out);
        return s;
    }
nomem:
    PyErr_NoMemory();
err:
    bb_free(&out);
    return NULL;
fallback:
    bb_free(&out);
    return NULL; /* no exception set: caller uses html.unescape */
}

/* decoded text with the entity-unescape gate applied */
static PyObject *
make_text(const char *buf, Py_ssize_t a, Py_ssize_t b)
{
    if (has_entity(buf + a, b - a)) {
        PyObject *u = fast_unescape(buf, a, b);
        if (u != NULL || PyErr_Occurred())
            return u;
        PyObject *s = decode_range(buf, a, b);
        if (s == NULL)
            return NULL;
        u = PyObject_CallOneArg(g_unescape, s);
        Py_DECREF(s);
        return u;
    }
    return decode_range(buf, a, b);
}

/* canonical (cached) str for a lowered ASCII tag name */
static PyObject *
canon_tag(const char *lowered, Py_ssize_t len)
{
    PyObject *fresh = PyUnicode_DecodeUTF8(lowered, len, NULL);
    if (fresh == NULL)
        return NULL;
    PyObject *canon = PyDict_SetDefault(g_tagcache, fresh, fresh);
    Py_XINCREF(canon);
    Py_DECREF(fresh);
    return canon;
}

static CNode *
new_node(PyTypeObject *tp, int kind, PyObject *tag /*borrowed*/,
         PyObject *data /*stolen*/)
{
    CNode *n = (CNode *)tp->tp_alloc(tp, 0);
    if (n == NULL) {
        Py_XDECREF(data);
        return NULL;
    }
    n->children = NULL; /* lazily created: most nodes are leaves */
    n->kind = kind;
    Py_INCREF(tag);
    n->tag = tag;
    Py_INCREF(g_no_attrs);
    n->attrs = g_no_attrs;
    Py_INCREF(Py_None);
    n->raw_attrs = Py_None;
    Py_INCREF(Py_None);
    n->parent = Py_None;
    n->data = data; /* stolen */
    return n;
}

/* append child to parent->children, set child->parent; steals child ref */
static int
append_child(CNode *parent, CNode *child)
{
    if (child == NULL)
        return -1;
    if (parent->children == NULL) {
        parent->children = PyList_New(0);
        if (parent->children == NULL) {
            Py_DECREF(child);
            return -1;
        }
    }
    int rc = PyList_Append(parent->children, (PyObject *)child);
    if (rc == 0) {
        Py_INCREF((PyObject *)parent);
        Py_XSETREF(child->parent, (PyObject *)parent);
    }
    Py_DECREF(child);
    return rc;
}

/* text node from [a, b) appended under parent; no-op when a >= b */
static int
append_text(PyTypeObject *tp, CNode *parent, const char *buf, Py_ssize_t a,
            Py_ssize_t b)
{
    if (a >= b)
        return 0;
    PyObject *data = make_text(buf, a, b);
    if (data == NULL)
        return -1;
    return append_child(parent, new_node(tp, 0 /*TEXT*/, g_empty, data));
}

/* "<" literal text node (the bare-'<' token alternative) */
static int
append_lt(PyTypeObject *tp, CNode *parent)
{
    PyObject *data = PyUnicode_FromStringAndSize("<", 1);
    if (data == NULL)
        return -1;
    return append_child(parent, new_node(tp, 0, g_empty, data));
}

/* find "</tag[ascii-ws]*>" (case-insensitive tag) from `from`;
 * returns 1 with *cs = '<' offset, *ce = offset past '>' */
static int
find_rawtext_close(const char *buf, Py_ssize_t from, Py_ssize_t n,
                   const char *tag, Py_ssize_t tlen, Py_ssize_t *cs,
                   Py_ssize_t *ce)
{
    Py_ssize_t q = from;
    while (q < n) {
        const char *lt = memchr(buf + q, '<', (size_t)(n - q));
        if (lt == NULL)
            return 0;
        q = lt - buf;
        if (q + 1 >= n || buf[q + 1] != '/') {
            q++;
            continue;
        }
        Py_ssize_t m = q + 2, x;
        for (x = 0; x < tlen; x++)
            if (m + x >= n || LOWER(buf[m + x]) != tag[x])
                break;
        if (x < tlen) {
            q++;
            continue;
        }
        Py_ssize_t w = m + tlen;
        int wl;
        while (w < n && space_at(buf, w, n, &wl))
            w += wl;
        if (w < n && buf[w] == '>') {
            *cs = q;
            *ce = w + 1;
            return 1;
        }
        q++;
    }
    return 0;
}

/* --------------------------------------------------------- node stack */

typedef struct {
    CNode **items; /* borrowed refs (each node owned by parent's list) */
    Py_ssize_t len, cap;
    CNode *inline_buf[256];
} NStack;

static void
stack_init(NStack *st)
{
    st->items = st->inline_buf;
    st->len = 0;
    st->cap = 256;
}

static int
stack_push(NStack *st, CNode *n)
{
    if (st->len == st->cap) {
        Py_ssize_t ncap = st->cap * 2;
        if (st->items == st->inline_buf) {
            CNode **p = PyMem_Malloc(ncap * sizeof(CNode *));
            if (p == NULL)
                return -1;
            memcpy(p, st->items, st->len * sizeof(CNode *));
            st->items = p;
        } else {
            CNode **p = PyMem_Realloc(st->items, ncap * sizeof(CNode *));
            if (p == NULL)
                return -1;
            st->items = p;
        }
        st->cap = ncap;
    }
    st->items[st->len++] = n;
    return 0;
}

static void
stack_free(NStack *st)
{
    if (st->items != st->inline_buf)
        PyMem_Free(st->items);
}

static int release_subtree(CNode *root); /* defined with release_tree */

static int
tag_is(CNode *n, const char *t)
{
    if (n->tag == NULL || !PyUnicode_Check(n->tag))
        return 0;
    return PyUnicode_CompareWithASCIIString(n->tag, t) == 0;
}

/* ------------------------------------------------------------ tokenizer */

static PyObject *
cdom_build_into(PyObject *self, PyObject *args)
{
    CNode *root;
    PyObject *html;
    if (!PyArg_ParseTuple(args, "O!U", &NodeBase_Type, &root, &html))
        return NULL;
    if (g_no_attrs == NULL || g_unescape == NULL) {
        PyErr_SetString(PyExc_RuntimeError, "_cdom.configure() not called");
        return NULL;
    }
    Py_ssize_t n;
    const char *buf = PyUnicode_AsUTF8AndSize(html, &n);
    if (buf == NULL)
        return NULL; /* lone surrogates etc. -> caller falls back */

    PyTypeObject *tp = Py_TYPE(root);
    NStack st;
    stack_init(&st);
    if (stack_push(&st, root) < 0)
        return PyErr_NoMemory();

    int open_p = 0;
    Py_ssize_t pos = 0;
    char namebuf[256];

#define TOP() (st.items[st.len - 1])
#define FAIL()                                                           \
    do {                                                                 \
        stack_free(&st);                                                 \
        return NULL;                                                     \
    } while (0)

    while (pos < n) {
        const char *lt = memchr(buf + pos, '<', (size_t)(n - pos));
        Py_ssize_t s = lt ? lt - buf : n;
        if (s > pos && append_text(tp, TOP(), buf, pos, s) < 0)
            FAIL();
        if (lt == NULL) {
            pos = n;
            break;
        }

        /* classify the token at '<' (same alternative order as the
         * fastparse._TOKEN regex; any failed alternative degrades to a
         * bare-'<' text node and the scan resumes at s+1) */
        Py_ssize_t i = s + 1;
        if (i >= n) {
            if (append_lt(tp, TOP()) < 0)
                FAIL();
            pos = s + 1;
            continue;
        }
        unsigned char c = (unsigned char)buf[i];

        if (c == '!') {
            if (i + 2 < n && buf[i + 1] == '-' && buf[i + 2] == '-') {
                /* comment: <!--(.*?)(?:-->|$) — raw content, no unescape */
                Py_ssize_t cs2 = s + 4, ce2;
                const char *e = NULL;
                if (cs2 <= n)
                    e = memmem(buf + cs2, (size_t)(n - cs2), "-->", 3);
                if (e != NULL) {
                    ce2 = e - buf;
                    pos = ce2 + 3;
                } else if (n > cs2 && buf[n - 1] == '\n') {
                    /* regex parity: the tokenizer's (?:-->|$) uses a
                     * non-MULTILINE $, which the lazy body matches
                     * BEFORE a final trailing newline — so that one
                     * newline stays outside the comment as text */
                    ce2 = n - 1;
                    pos = n - 1;
                } else {
                    ce2 = n;
                    pos = n;
                }
                PyObject *data = decode_range(buf, cs2, ce2);
                if (data == NULL)
                    FAIL();
                if (append_child(TOP(), new_node(tp, 2 /*COMMENT*/, g_empty,
                                                 data)) < 0)
                    FAIL();
                continue;
            }
            /* decl <!...>: dropped */
            const char *e = (i + 1 <= n)
                                ? memchr(buf + i + 1, '>', (size_t)(n - i - 1))
                                : NULL;
            if (e == NULL) {
                if (append_lt(tp, TOP()) < 0)
                    FAIL();
                pos = s + 1;
            } else {
                pos = (e - buf) + 1;
            }
            continue;
        }

        if (c == '?') {
            /* processing instruction <?...>: dropped */
            const char *e = (i + 1 <= n)
                                ? memchr(buf + i + 1, '>', (size_t)(n - i - 1))
                                : NULL;
            if (e == NULL) {
                if (append_lt(tp, TOP()) < 0)
                    FAIL();
                pos = s + 1;
            } else {
                pos = (e - buf) + 1;
            }
            continue;
        }

        if (c == '/') {
            Py_ssize_t j = i + 1;
            if (j >= n || !IS_ALPHA(buf[j])) {
                if (append_lt(tp, TOP()) < 0)
                    FAIL();
                pos = s + 1;
                continue;
            }
            Py_ssize_t k = j + 1;
            while (k < n && IS_NAME(buf[k]))
                k++;
            const char *e = memchr(buf + k, '>', (size_t)(n - k));
            if (e == NULL) {
                if (append_lt(tp, TOP()) < 0)
                    FAIL();
                pos = s + 1;
                continue;
            }
            pos = (e - buf) + 1;
            Py_ssize_t tlen = k - j;
            if (tlen >= (Py_ssize_t)sizeof(namebuf)) {
                /* absurd tag name: bail so the caller reparses with the
                 * pure-Python tokenizer (no silent divergence) */
                PyErr_SetString(PyExc_ValueError, "tag name too long");
                FAIL();
            }
            char tagl[sizeof(namebuf)];
            for (Py_ssize_t x = 0; x < tlen; x++)
                tagl[x] = LOWER(buf[j + x]);
            tagl[tlen] = '\0';
            /* pop to and through the matching open tag (stray: ignore) */
            for (Py_ssize_t idx = st.len - 1; idx >= 1; idx--) {
                if (tag_is(st.items[idx], tagl)) {
                    if (open_p) {
                        for (Py_ssize_t t2 = idx; t2 < st.len; t2++)
                            if (tag_is(st.items[t2], "p"))
                                open_p--;
                    }
                    st.len = idx;
                    break;
                }
            }
            continue;
        }

        if (IS_ALPHA(c)) {
            /* start tag */
            Py_ssize_t k = i + 1;
            while (k < n && IS_NAME(buf[k]))
                k++;
            const char *e = memchr(buf + k, '>', (size_t)(n - k));
            if (e == NULL) {
                if (append_lt(tp, TOP()) < 0)
                    FAIL();
                pos = s + 1;
                continue;
            }
            Py_ssize_t gt = e - buf;
            Py_ssize_t aa = k, ab = gt;
            int selfclose = 0;
            if (ab > aa && buf[ab - 1] == '/') {
                selfclose = 1;
                ab--;
            }
            pos = gt + 1;

            Py_ssize_t tlen = k - i;
            if (tlen >= (Py_ssize_t)sizeof(namebuf)) {
                PyErr_SetString(PyExc_ValueError, "tag name too long");
                FAIL();
            }
            for (Py_ssize_t x = 0; x < tlen; x++)
                namebuf[x] = LOWER(buf[i + x]);
            namebuf[tlen] = '\0';

            /* implied closes */
            const char *const *closes = self_closes(namebuf);
            int is_p_closer = in_list(namebuf, P_CLOSER_TAGS);
            if (is_p_closer && open_p > 0) {
                while (st.len > 1) {
                    CNode *popped = st.items[--st.len];
                    if (tag_is(popped, "p")) {
                        open_p--;
                        break;
                    }
                }
            } else if (closes != NULL && st.len > 0) {
                CNode *topn = TOP();
                if (topn->tag != NULL && PyUnicode_Check(topn->tag)) {
                    for (const char *const *cc = closes; *cc; cc++) {
                        if (tag_is(topn, *cc)) {
                            st.len--;
                            break;
                        }
                    }
                }
            }

            PyObject *tag = canon_tag(namebuf, tlen);
            if (tag == NULL)
                FAIL();
            Py_INCREF(g_empty);
            CNode *node = new_node(tp, 1 /*ELEMENT*/, tag, g_empty);
            Py_DECREF(tag);
            if (node == NULL)
                FAIL();

            if (ab > aa) {
                /* store raw attrs unless all whitespace (the pure
                 * path's str.isspace() gate, unicode-aware) */
                int all_ws = 1, wl;
                for (Py_ssize_t x = aa; x < ab;) {
                    if (!space_at(buf, x, ab, &wl)) {
                        all_ws = 0;
                        break;
                    }
                    x += wl;
                }
                if (!all_ws) {
                    PyObject *raw = decode_range(buf, aa, ab);
                    if (raw == NULL) {
                        Py_DECREF(node);
                        FAIL();
                    }
                    Py_INCREF(Py_None);
                    Py_XSETREF(node->attrs, Py_None); /* lazy parse */
                    Py_XSETREF(node->raw_attrs, raw);
                }
            }

            /* keep a borrowed handle usable after append steals the ref */
            CNode *node_b = node;
            Py_INCREF(node); /* temporary keep-alive across append */
            if (append_child(TOP(), node) < 0) {
                Py_DECREF(node_b);
                FAIL();
            }

            if (in_list(namebuf, VOID_TAGS)) {
                Py_DECREF(node_b);
                continue;
            }
            if (selfclose &&
                (strcmp(namebuf, "svg") == 0 || strcmp(namebuf, "math") == 0)) {
                Py_DECREF(node_b);
                continue;
            }
            if (in_list(namebuf, RAWTEXT_TAGS)) {
                Py_ssize_t cs2, ce2;
                int found = find_rawtext_close(buf, pos, n, namebuf, tlen,
                                               &cs2, &ce2);
                Py_ssize_t dend = found ? cs2 : n;
                if (dend > pos) {
                    PyObject *data;
                    if (strcmp(namebuf, "title") == 0 ||
                        strcmp(namebuf, "textarea") == 0)
                        data = make_text(buf, pos, dend);
                    else
                        data = decode_range(buf, pos, dend);
                    if (data == NULL) {
                        Py_DECREF(node_b);
                        FAIL();
                    }
                    if (append_child(node_b, new_node(tp, 0, g_empty, data)) <
                        0) {
                        Py_DECREF(node_b);
                        FAIL();
                    }
                }
                pos = found ? ce2 : n;
                Py_DECREF(node_b);
                continue;
            }
            if (stack_push(&st, node_b) < 0) {
                Py_DECREF(node_b);
                stack_free(&st);
                return PyErr_NoMemory();
            }
            Py_DECREF(node_b); /* stack holds borrowed ref; child list owns */
            if (strcmp(namebuf, "p") == 0)
                open_p++;
            continue;
        }

        /* anything else after '<': bare text '<' */
        if (append_lt(tp, TOP()) < 0)
            FAIL();
        pos = s + 1;
    }

    stack_free(&st);
    Py_RETURN_NONE;
#undef TOP
#undef FAIL
}

/* --------------------------------------------------------- prelude scan */
/* scan_prelude(node_type, html) -> (metas, links, scripts) | None
 *
 * Tree-free scan for the cascade's pre-prune stages (URL/meta/JSON):
 * ~70% of real documents resolve there, so building the full
 * Python-node tree -- ~50% of fast-mode wall -- is wasted for them.
 * The loop replicates build_into's token grammar and boundary
 * advances EXACTLY (token boundaries depend only on the byte stream,
 * never on the tree: rawtext/comment spans, bare-'<' resumes, and the
 * too-long-tag-name failure are all position-local), but materializes
 * Node objects ONLY for <meta>, <link> and <script> start tags -- the
 * elements examine_meta_elements / query_meta_canonical_url /
 * json_search read.  Script nodes get their rawtext content as a text
 * child only when the first `type` attr marks embedded JSON (the only
 * scripts json_search reads the text of), checked with the same
 * parse_attrs the lazy .attrs property runs.  No parent links are
 * set, so the handful of nodes frees by pure refcount.
 *
 * parse_html's normalization can DROP subtrees (content outside an
 * explicit top-level <html>) and REORDER top-level strays around an
 * explicit <head>/<body> -- shapes where collected order would
 * diverge from iter_elements order.  The scan therefore maintains the
 * same open-tag stack algebra as build_into (implied closes, p
 * counting, matching-end-tag pops) purely to classify each collected
 * element, and returns None -- caller falls back to the tree -- when
 * any hazard holds:
 *   H1  two or more top-level <html> starts
 *   H2  an explicit top-level <html> exists and some collected
 *       element is outside it
 *   H3  an explicit head/body exists at top_nodes level and some
 *       collected element is in a top-level stray subtree
 *   H4  two or more head (or body) starts at top_nodes level
 *   H5  a top-level body start precedes a top-level head start
 *       (parse_html always emits the head subtree before the body
 *       subtree, so source order would diverge from iter order)
 * (Conservative: a false positive only costs the prelude, never
 * correctness.)  Raises exactly where build_into raises, so the
 * caller falls back in the same documents.  Differential parity vs
 * the tree is pinned by tests/test_cdom_parity.py.
 */

typedef struct {
    char (*tags)[256];
    Py_ssize_t len, cap;
} TagStack;

static int
tstack_push(TagStack *ts, const char *tag)
{
    if (ts->len == ts->cap) {
        Py_ssize_t nc = ts->cap ? ts->cap * 2 : 64;
        void *p = PyMem_Realloc(ts->tags, (size_t)nc * 256);
        if (p == NULL)
            return -1;
        ts->tags = p;
        ts->cap = nc;
    }
    strcpy(ts->tags[ts->len++], tag);
    return 0;
}

static PyObject *
cdom_scan_prelude(PyObject *self, PyObject *args)
{
    PyObject *tp_obj;
    PyObject *html;
    if (!PyArg_ParseTuple(args, "OU", &tp_obj, &html))
        return NULL;
    if (!PyType_Check(tp_obj) ||
        !PyType_IsSubtype((PyTypeObject *)tp_obj, &NodeBase_Type)) {
        PyErr_SetString(PyExc_TypeError,
                        "node_type must subclass _cdom.NodeBase");
        return NULL;
    }
    if (g_no_attrs == NULL || g_unescape == NULL) {
        PyErr_SetString(PyExc_RuntimeError, "_cdom.configure() not called");
        return NULL;
    }
    PyTypeObject *tp = (PyTypeObject *)tp_obj;
    Py_ssize_t n;
    const char *buf = PyUnicode_AsUTF8AndSize(html, &n);
    if (buf == NULL)
        return NULL; /* lone surrogates etc. -> caller falls back */

    PyObject *metas = NULL, *links = NULL, *scripts = NULL;
    TagStack ts = {NULL, 0, 0};
    metas = PyList_New(0);
    links = PyList_New(0);
    scripts = PyList_New(0);
    if (metas == NULL || links == NULL || scripts == NULL)
        goto fail;
    if (tstack_push(&ts, "") < 0) { /* index 0: root sentinel */
        PyErr_NoMemory();
        goto fail;
    }

    int open_p = 0;
    int html_count = 0, head_at_l = 0, body_at_l = 0;
    int body_before_head = 0;
    int any_outside_html = 0, any_stray = 0;
    Py_ssize_t pos = 0;
    char namebuf[256];

    while (pos < n) {
        const char *lt = memchr(buf + pos, '<', (size_t)(n - pos));
        if (lt == NULL)
            break; /* trailing text: no allocation needed */
        Py_ssize_t s = lt - buf;
        Py_ssize_t i = s + 1;
        if (i >= n) { /* bare '<' at EOF */
            pos = s + 1;
            continue;
        }
        unsigned char c = (unsigned char)buf[i];

        if (c == '!') {
            if (i + 2 < n && buf[i + 1] == '-' && buf[i + 2] == '-') {
                /* comment: same advance incl. the trailing-newline
                 * regex-parity quirk (see build_into) */
                Py_ssize_t cs2 = s + 4;
                const char *e = NULL;
                if (cs2 <= n)
                    e = memmem(buf + cs2, (size_t)(n - cs2), "-->", 3);
                if (e != NULL)
                    pos = (e - buf) + 3;
                else if (n > cs2 && buf[n - 1] == '\n')
                    pos = n - 1;
                else
                    pos = n;
                continue;
            }
            const char *e =
                (i + 1 <= n) ? memchr(buf + i + 1, '>', (size_t)(n - i - 1))
                             : NULL;
            pos = (e == NULL) ? s + 1 : (e - buf) + 1;
            continue;
        }

        if (c == '?') {
            const char *e =
                (i + 1 <= n) ? memchr(buf + i + 1, '>', (size_t)(n - i - 1))
                             : NULL;
            pos = (e == NULL) ? s + 1 : (e - buf) + 1;
            continue;
        }

        if (c == '/') {
            Py_ssize_t j = i + 1;
            if (j >= n || !IS_ALPHA(buf[j])) {
                pos = s + 1;
                continue;
            }
            Py_ssize_t k = j + 1;
            while (k < n && IS_NAME(buf[k]))
                k++;
            const char *e = memchr(buf + k, '>', (size_t)(n - k));
            if (e == NULL) {
                pos = s + 1;
                continue;
            }
            pos = (e - buf) + 1;
            Py_ssize_t tlen = k - j;
            if (tlen >= (Py_ssize_t)sizeof(namebuf)) {
                PyErr_SetString(PyExc_ValueError, "tag name too long");
                goto fail;
            }
            char tagl[sizeof(namebuf)];
            for (Py_ssize_t x = 0; x < tlen; x++)
                tagl[x] = LOWER(buf[j + x]);
            tagl[tlen] = '\0';
            /* pop to and through the matching open tag (stray: ignore)
             * -- same algebra as build_into */
            for (Py_ssize_t idx = ts.len - 1; idx >= 1; idx--) {
                if (strcmp(ts.tags[idx], tagl) == 0) {
                    if (open_p) {
                        for (Py_ssize_t t2 = idx; t2 < ts.len; t2++)
                            if (strcmp(ts.tags[t2], "p") == 0)
                                open_p--;
                    }
                    ts.len = idx;
                    break;
                }
            }
            continue;
        }

        if (IS_ALPHA(c)) {
            Py_ssize_t k = i + 1;
            while (k < n && IS_NAME(buf[k]))
                k++;
            const char *e = memchr(buf + k, '>', (size_t)(n - k));
            if (e == NULL) {
                pos = s + 1;
                continue;
            }
            Py_ssize_t gt = e - buf;
            Py_ssize_t aa = k, ab = gt;
            int selfclose = 0;
            if (ab > aa && buf[ab - 1] == '/') {
                selfclose = 1;
                ab--;
            }
            pos = gt + 1;

            Py_ssize_t tlen = k - i;
            if (tlen >= (Py_ssize_t)sizeof(namebuf)) {
                PyErr_SetString(PyExc_ValueError, "tag name too long");
                goto fail;
            }
            for (Py_ssize_t x = 0; x < tlen; x++)
                namebuf[x] = LOWER(buf[i + x]);
            namebuf[tlen] = '\0';

            /* implied closes, identical to build_into */
            const char *const *closes = self_closes(namebuf);
            int is_p_closer = in_list(namebuf, P_CLOSER_TAGS);
            if (is_p_closer && open_p > 0) {
                while (ts.len > 1) {
                    if (strcmp(ts.tags[--ts.len], "p") == 0) {
                        open_p--;
                        break;
                    }
                }
            } else if (closes != NULL && ts.len > 1) {
                for (const char *const *cc = closes; *cc; cc++) {
                    if (strcmp(ts.tags[ts.len - 1], *cc) == 0) {
                        ts.len--;
                        break;
                    }
                }
            }

            /* normalization-hazard bookkeeping (see header comment).
             * L = the top_nodes level: 2 under an open top-level html,
             * else 1. */
            int in_html = ts.len >= 2 && strcmp(ts.tags[1], "html") == 0;
            Py_ssize_t L = in_html ? 2 : 1;

            int is_meta = strcmp(namebuf, "meta") == 0;
            int is_link = strcmp(namebuf, "link") == 0;
            int is_script = strcmp(namebuf, "script") == 0;

            if (strcmp(namebuf, "html") == 0 && ts.len == 1)
                html_count++;
            if (ts.len == L) {
                if (strcmp(namebuf, "head") == 0)
                    head_at_l++;
                else if (strcmp(namebuf, "body") == 0) {
                    body_at_l++;
                    if (head_at_l == 0)
                        body_before_head = 1;
                }
            }

            CNode *node = NULL;
            if (is_meta || is_link || is_script) {
                if (!in_html)
                    any_outside_html = 1;
                /* in an explicit head/body subtree <=> an ancestor at
                 * level L is head or body; anything else at/under
                 * top_nodes level is a routed stray */
                if (!(ts.len > L && (strcmp(ts.tags[L], "head") == 0 ||
                                     strcmp(ts.tags[L], "body") == 0)))
                    any_stray = 1;

                PyObject *tag = canon_tag(namebuf, tlen);
                if (tag == NULL)
                    goto fail;
                Py_INCREF(g_empty);
                node = new_node(tp, 1 /*ELEMENT*/, tag, g_empty);
                Py_DECREF(tag);
                if (node == NULL)
                    goto fail;
                if (ab > aa) {
                    /* same all-whitespace gate as build_into */
                    int all_ws = 1, wl;
                    for (Py_ssize_t x = aa; x < ab;) {
                        if (!space_at(buf, x, ab, &wl)) {
                            all_ws = 0;
                            break;
                        }
                        x += wl;
                    }
                    if (!all_ws) {
                        PyObject *raw = decode_range(buf, aa, ab);
                        if (raw == NULL) {
                            Py_DECREF(node);
                            goto fail;
                        }
                        Py_INCREF(Py_None);
                        Py_XSETREF(node->attrs, Py_None);
                        Py_XSETREF(node->raw_attrs, raw);
                    }
                }
                PyObject *dst = is_meta ? metas : (is_link ? links : scripts);
                if (PyList_Append(dst, (PyObject *)node) < 0) {
                    Py_DECREF(node);
                    goto fail;
                }
                /* list owns one ref; ours dropped at branch ends */
            }

            if (in_list(namebuf, VOID_TAGS)) {
                Py_XDECREF(node);
                continue;
            }
            if (selfclose && (strcmp(namebuf, "svg") == 0 ||
                              strcmp(namebuf, "math") == 0)) {
                Py_XDECREF(node);
                continue;
            }
            if (in_list(namebuf, RAWTEXT_TAGS)) {
                Py_ssize_t cs2, ce2;
                int found = find_rawtext_close(buf, pos, n, namebuf, tlen,
                                               &cs2, &ce2);
                Py_ssize_t dend = found ? cs2 : n;
                if (is_script && node != NULL) {
                    /* eager attr parse (same function the lazy .attrs
                     * property runs) to test whether json_search will
                     * read this script's text */
                    int want = 0;
                    if (node->raw_attrs != Py_None) {
                        PyObject *parsed =
                            cdom_parse_attrs(NULL, node->raw_attrs);
                        if (parsed == NULL) {
                            Py_DECREF(node);
                            goto fail;
                        }
                        Py_XSETREF(node->attrs, parsed); /* cache */
                        for (Py_ssize_t x = 0; x < PyList_GET_SIZE(parsed);
                             x++) {
                            PyObject *pair = PyList_GET_ITEM(parsed, x);
                            PyObject *name = PyTuple_GET_ITEM(pair, 0);
                            if (PyUnicode_CompareWithASCIIString(
                                    name, "type") == 0) {
                                PyObject *v = PyTuple_GET_ITEM(pair, 1);
                                want =
                                    PyUnicode_CompareWithASCIIString(
                                        v, "application/ld+json") == 0 ||
                                    PyUnicode_CompareWithASCIIString(
                                        v, "application/settings+json") == 0;
                                break; /* first `type` attr wins */
                            }
                        }
                    }
                    if (want && dend > pos) {
                        /* script rawtext is decode_range (raw, no
                         * unescape) exactly like build_into */
                        PyObject *data = decode_range(buf, pos, dend);
                        if (data == NULL) {
                            Py_DECREF(node);
                            goto fail;
                        }
                        CNode *text = new_node(tp, 0 /*TEXT*/, g_empty, data);
                        if (text == NULL) {
                            Py_DECREF(node);
                            goto fail;
                        }
                        /* child append WITHOUT a parent back-link:
                         * keeps the pair acyclic (pure-refcount free);
                         * text_content only walks children */
                        PyObject *kids = PyList_New(0);
                        if (kids == NULL ||
                            PyList_Append(kids, (PyObject *)text) < 0) {
                            Py_XDECREF(kids);
                            Py_DECREF(text);
                            Py_DECREF(node);
                            goto fail;
                        }
                        Py_DECREF(text);
                        Py_XSETREF(node->children, kids);
                    }
                }
                pos = found ? ce2 : n;
                Py_XDECREF(node);
                continue;
            }
            if (tstack_push(&ts, namebuf) < 0) {
                Py_XDECREF(node);
                PyErr_NoMemory();
                goto fail;
            }
            Py_XDECREF(node);
            if (strcmp(namebuf, "p") == 0)
                open_p++;
            continue;
        }

        /* anything else after '<': bare '<' text */
        pos = s + 1;
    }

    PyMem_Free(ts.tags);
    if (html_count >= 2 || (html_count == 1 && any_outside_html) ||
        ((head_at_l || body_at_l) && any_stray) || head_at_l >= 2 ||
        body_at_l >= 2 || (body_before_head && head_at_l)) {
        Py_DECREF(metas);
        Py_DECREF(links);
        Py_DECREF(scripts);
        Py_RETURN_NONE; /* normalization hazard: caller uses the tree */
    }
    {
        PyObject *out = PyTuple_Pack(3, metas, links, scripts);
        Py_DECREF(metas);
        Py_DECREF(links);
        Py_DECREF(scripts);
        return out;
    }

fail:
    PyMem_Free(ts.tags);
    Py_XDECREF(metas);
    Py_XDECREF(links);
    Py_XDECREF(scripts);
    return NULL;
}

/* ----------------------------------------------------------- attr parse */
/* C version of fastparse._parse_attrs: the _ATTR regex
 *   ([^\s=/>]+)(?:\s*=\s*("[^"]*"|'[^']*'|[^\s>]*))?
 * over the raw attr text, names lowercased, quoted values stripped,
 * entity-unescape gate on values.  \s here is ASCII whitespace; the
 * pure path's unicode-\s differences only shift where a rare non-ASCII
 * space splits a token, which the differential suite checks.
 */
static PyObject *
cdom_parse_attrs(PyObject *self, PyObject *arg)
{
    if (!PyUnicode_Check(arg)) {
        PyErr_SetString(PyExc_TypeError, "parse_attrs expects str");
        return NULL;
    }
    Py_ssize_t n;
    const char *buf = PyUnicode_AsUTF8AndSize(arg, &n);
    if (buf == NULL)
        return NULL;
    PyObject *out = PyList_New(0);
    if (out == NULL)
        return NULL;
    Py_ssize_t p = 0;
    int wl;
    while (p < n) {
        char c = buf[p];
        if (c == '=' || c == '/' || c == '>') {
            p++;
            continue;
        }
        if (space_at(buf, p, n, &wl)) {
            p += wl;
            continue;
        }
        /* name: [^\s=/>]+ */
        Py_ssize_t a = p;
        while (p < n && buf[p] != '=' && buf[p] != '/' && buf[p] != '>' &&
               !space_at(buf, p, n, &wl))
            p += ((unsigned char)buf[p] < 0x80) ? 1 : wl;
        Py_ssize_t b = p;
        /* optional \s*=\s* value */
        Py_ssize_t q = p;
        while (q < n && space_at(buf, q, n, &wl))
            q += wl;
        PyObject *val = NULL;
        if (q < n && buf[q] == '=') {
            q++;
            while (q < n && space_at(buf, q, n, &wl))
                q += wl;
            if (q < n && (buf[q] == '"' || buf[q] == '\'')) {
                char quote = buf[q];
                Py_ssize_t va = q + 1;
                const char *e =
                    memchr(buf + va, quote, (size_t)(n - va));
                Py_ssize_t vb = e ? (e - buf) : n;
                /* regex "..." requires the closing quote; unterminated
                 * quote makes the group fall back to [^\s>]* which
                 * starts with the quote char.  Mirror that. */
                if (e != NULL) {
                    val = make_text(buf, va, vb);
                    p = vb + 1;
                } else {
                    Py_ssize_t vs = q;
                    Py_ssize_t ve = vs;
                    while (ve < n && buf[ve] != '>' &&
                           !space_at(buf, ve, n, &wl))
                        ve += ((unsigned char)buf[ve] < 0x80) ? 1 : wl;
                    /* the pure path strips first+last CHAR of ANY match
                     * starting with a quote (val[1:-1]) — even this
                     * unterminated fallback.  Mirror the quirk; the last
                     * char may be multi-byte, so walk back over UTF-8
                     * continuation bytes instead of slicing one byte
                     * (a byte slice mid-sequence raised UnicodeDecodeError
                     * — found by the attr fuzz). */
                    Py_ssize_t sa = vs + 1;
                    Py_ssize_t sb = ve;
                    if (sb > sa) {
                        sb--;
                        while (sb > sa &&
                               ((unsigned char)buf[sb] & 0xC0) == 0x80)
                            sb--;
                    }
                    val = make_text(buf, sa, sb);
                    p = ve;
                }
            } else {
                Py_ssize_t vs = q, ve = q;
                while (ve < n && buf[ve] != '>' &&
                       !space_at(buf, ve, n, &wl))
                    ve += ((unsigned char)buf[ve] < 0x80) ? 1 : wl;
                val = make_text(buf, vs, ve);
                p = ve;
            }
            if (val == NULL) {
                Py_DECREF(out);
                return NULL;
            }
        } else {
            val = PyUnicode_FromStringAndSize("", 0);
            if (val == NULL) {
                Py_DECREF(out);
                return NULL;
            }
        }
        /* lowercase the name (ASCII fast path; else str.lower) */
        PyObject *name;
        int ascii_only = 1;
        for (Py_ssize_t x = a; x < b; x++)
            if ((unsigned char)buf[x] >= 0x80) {
                ascii_only = 0;
                break;
            }
        if (ascii_only) {
            if (b - a < 256) {
                char nb[256];
                for (Py_ssize_t x = a; x < b; x++)
                    nb[x - a] = LOWER(buf[x]);
                name = PyUnicode_DecodeUTF8(nb, b - a, NULL);
            } else {
                name = NULL;
                PyObject *raw = decode_range(buf, a, b);
                if (raw != NULL) {
                    name = PyObject_CallMethod(raw, "lower", NULL);
                    Py_DECREF(raw);
                }
            }
        } else {
            name = NULL;
            PyObject *raw = decode_range(buf, a, b);
            if (raw != NULL) {
                name = PyObject_CallMethod(raw, "lower", NULL);
                Py_DECREF(raw);
            }
        }
        if (name == NULL) {
            Py_DECREF(val);
            Py_DECREF(out);
            return NULL;
        }
        PyObject *pair = PyTuple_Pack(2, name, val);
        Py_DECREF(name);
        Py_DECREF(val);
        if (pair == NULL || PyList_Append(out, pair) < 0) {
            Py_XDECREF(pair);
            Py_DECREF(out);
            return NULL;
        }
        Py_DECREF(pair);
    }
    return out;
}

/* ----------------------------------------------------- tree traversal */

/* frame stack for non-recursive DFS over children lists */
typedef struct {
    PyObject *list; /* borrowed */
    Py_ssize_t i;
} Frame;

typedef struct {
    Frame *items;
    Py_ssize_t len, cap;
    Frame inline_buf[128];
} FStack;

static void
fstack_init(FStack *st)
{
    st->items = st->inline_buf;
    st->len = 0;
    st->cap = 128;
}

static int
fstack_push(FStack *st, PyObject *list)
{
    if (st->len == st->cap) {
        Py_ssize_t ncap = st->cap * 2;
        if (st->items == st->inline_buf) {
            Frame *p = PyMem_Malloc(ncap * sizeof(Frame));
            if (p == NULL)
                return -1;
            memcpy(p, st->items, st->len * sizeof(Frame));
            st->items = p;
        } else {
            Frame *p = PyMem_Realloc(st->items, ncap * sizeof(Frame));
            if (p == NULL)
                return -1;
            st->items = p;
        }
        st->cap = ncap;
    }
    st->items[st->len].list = list;
    st->items[st->len].i = 0;
    st->len++;
    return 0;
}

static void
fstack_free(FStack *st)
{
    if (st->items != st->inline_buf)
        PyMem_Free(st->items);
}

/* iter_elements(node) -> list: descendant elements, DFS preorder */
static PyObject *
cdom_iter_elements(PyObject *self, PyObject *arg)
{
    if (!PyObject_TypeCheck(arg, &NodeBase_Type)) {
        PyErr_SetString(PyExc_TypeError, "iter_elements expects Node");
        return NULL;
    }
    CNode *root = (CNode *)arg;
    PyObject *out = PyList_New(0);
    if (out == NULL)
        return NULL;
    if (root->children == NULL || !PyList_Check(root->children))
        return out;
    FStack st;
    fstack_init(&st);
    if (fstack_push(&st, root->children) < 0)
        goto nomem;
    while (st.len > 0) {
        Frame *f = &st.items[st.len - 1];
        if (f->i >= PyList_GET_SIZE(f->list)) {
            st.len--;
            continue;
        }
        PyObject *child = PyList_GET_ITEM(f->list, f->i);
        f->i++;
        if (!PyObject_TypeCheck(child, &NodeBase_Type))
            continue;
        CNode *c = (CNode *)child;
        if (c->kind != 1)
            continue;
        if (PyList_Append(out, child) < 0)
            goto fail;
        if (c->children != NULL && PyList_Check(c->children) &&
            PyList_GET_SIZE(c->children) > 0) {
            if (fstack_push(&st, c->children) < 0)
                goto nomem;
        }
    }
    fstack_free(&st);
    return out;
nomem:
    PyErr_NoMemory();
fail:
    fstack_free(&st);
    Py_DECREF(out);
    return NULL;
}

/* ----------------------------------------------- prune_and_collect */

/* discard_rule: div with id wm-ipp / wm-ipp-base (selectors.py) */
static int
is_discard(CNode *c)
{
    if (!tag_is(c, "div"))
        return 0;
    PyObject *attrs = c->attrs;
    if (attrs == Py_None) {
        /* lazy: quick value-substring reject avoids the attr parse */
        if (c->raw_attrs == NULL || !PyUnicode_Check(c->raw_attrs))
            return 0;
        Py_ssize_t rn;
        const char *raw = PyUnicode_AsUTF8AndSize(c->raw_attrs, &rn);
        if (raw == NULL) {
            PyErr_Clear();
            return 0;
        }
        if (memmem(raw, rn, "wm-ipp", 6) == NULL)
            return 0;
        PyObject *parsed = cdom_parse_attrs(NULL, c->raw_attrs);
        if (parsed == NULL) {
            PyErr_Clear();
            return 0;
        }
        Py_XSETREF(c->attrs, parsed);
        attrs = parsed;
    }
    if (!PyList_Check(attrs))
        return 0;
    for (Py_ssize_t i = 0; i < PyList_GET_SIZE(attrs); i++) {
        PyObject *pair = PyList_GET_ITEM(attrs, i);
        if (!PyTuple_Check(pair) || PyTuple_GET_SIZE(pair) != 2)
            continue;
        PyObject *k = PyTuple_GET_ITEM(pair, 0);
        if (PyUnicode_CompareWithASCIIString(k, "id") == 0) {
            PyObject *v = PyTuple_GET_ITEM(pair, 1);
            return PyUnicode_CompareWithASCIIString(v, "wm-ipp") == 0 ||
                   PyUnicode_CompareWithASCIIString(v, "wm-ipp-base") == 0;
        }
    }
    return 0;
}

/* prune_and_collect(root, clean_tags) -> list
 * In-place fused clean_document + discard_unwanted + element scan
 * (cascade._prune_and_collect): prune _CLEAN_TAGS / wm-ipp divs,
 * return surviving elements in document order. */
static PyObject *
cdom_prune_and_collect(PyObject *self, PyObject *args)
{
    CNode *root;
    PyObject *clean_tags;
    if (!PyArg_ParseTuple(args, "O!O", &NodeBase_Type, &root, &clean_tags))
        return NULL;
    PyObject *out = PyList_New(0);
    if (out == NULL)
        return NULL;
    if (root->children == NULL || !PyList_Check(root->children))
        return out;
    FStack st;
    fstack_init(&st);
    if (fstack_push(&st, root->children) < 0)
        goto nomem;
    while (st.len > 0) {
        Frame *f = &st.items[st.len - 1];
        if (f->i >= PyList_GET_SIZE(f->list)) {
            st.len--;
            continue;
        }
        PyObject *child = PyList_GET_ITEM(f->list, f->i);
        if (!PyObject_TypeCheck(child, &NodeBase_Type)) {
            f->i++;
            continue;
        }
        CNode *c = (CNode *)child;
        if (c->kind != 1) {
            f->i++;
            continue;
        }
        int clean = 0;
        if (c->tag != NULL) {
            clean = PySet_Contains(clean_tags, c->tag);
            if (clean < 0)
                goto fail;
        }
        if (clean || is_discard(c)) {
            /* remove in place: delete at the current index, then break
             * the detached subtree's internal parent cycles so it frees
             * by refcount (release_subtree also clears c->parent). The
             * INCREF guards c across DelItem — a childless discard node
             * would otherwise be freed by the delete itself. */
            Py_INCREF(child);
            if (PySequence_DelItem(f->list, f->i) < 0 ||
                release_subtree(c) < 0) {
                Py_DECREF(child);
                goto fail;
            }
            Py_DECREF(child);
            continue; /* next sibling shifted into slot i */
        }
        f->i++;
        if (PyList_Append(out, child) < 0)
            goto fail;
        if (c->children != NULL && PyList_Check(c->children) &&
            PyList_GET_SIZE(c->children) > 0) {
            if (fstack_push(&st, c->children) < 0)
                goto nomem;
        }
    }
    fstack_free(&st);
    return out;
nomem:
    PyErr_NoMemory();
fail:
    fstack_free(&st);
    Py_DECREF(out);
    return NULL;
}

/* -------------------------------------------------------- date filter */

/* case-insensitive substring (ASCII needle) */
static const char *
strcasestr_ascii(const char *hay, Py_ssize_t hn, const char *needle,
                 Py_ssize_t nn)
{
    if (nn == 0)
        return hay;
    for (Py_ssize_t i = 0; i + nn <= hn; i++) {
        Py_ssize_t j;
        for (j = 0; j < nn; j++)
            if (LOWER(hay[i + j]) != needle[j])
                break;
        if (j == nn)
            return hay + i;
    }
    return NULL;
}

static int
contains(const char *hay, Py_ssize_t hn, const char *needle)
{
    return memmem(hay, hn, needle, strlen(needle)) != NULL;
}

/* date_rule(selectors.py) on a node whose attrs are materialized;
 * id/class/itemprop are first-occurrence values. Returns -1 on error. */
static int
date_rule_c(CNode *c)
{
    PyObject *attrs = c->attrs;
    if (attrs == Py_None) {
        /* lazy path: the rule can only fire when id/class/itemprop can
         * occur in the raw tag text (case-insensitive, matching the
         * lowercased-gate in selectors.date_rule) */
        Py_ssize_t rn;
        const char *raw = PyUnicode_AsUTF8AndSize(c->raw_attrs, &rn);
        if (raw == NULL)
            return -1;
        if (strcasestr_ascii(raw, rn, "id", 2) == NULL &&
            strcasestr_ascii(raw, rn, "class", 5) == NULL &&
            strcasestr_ascii(raw, rn, "itemprop", 8) == NULL)
            return 0;
        PyObject *parsed = cdom_parse_attrs(NULL, c->raw_attrs);
        if (parsed == NULL)
            return -1;
        Py_XSETREF(c->attrs, parsed);
        attrs = parsed;
    }
    if (!PyList_Check(attrs) || PyList_GET_SIZE(attrs) == 0)
        return 0;
    PyObject *id_ = NULL, *class_ = NULL, *itemprop = NULL;
    for (Py_ssize_t i = 0; i < PyList_GET_SIZE(attrs); i++) {
        PyObject *pair = PyList_GET_ITEM(attrs, i);
        if (!PyTuple_Check(pair) || PyTuple_GET_SIZE(pair) != 2)
            continue;
        PyObject *k = PyTuple_GET_ITEM(pair, 0);
        if (id_ == NULL && PyUnicode_CompareWithASCIIString(k, "id") == 0)
            id_ = PyTuple_GET_ITEM(pair, 1);
        else if (class_ == NULL &&
                 PyUnicode_CompareWithASCIIString(k, "class") == 0)
            class_ = PyTuple_GET_ITEM(pair, 1);
        else if (itemprop == NULL &&
                 PyUnicode_CompareWithASCIIString(k, "itemprop") == 0)
            itemprop = PyTuple_GET_ITEM(pair, 1);
    }
    const char *id_s = "", *cl_s = "", *ip_s = "";
    Py_ssize_t id_n = 0, cl_n = 0, ip_n = 0;
    if (id_ != NULL) {
        id_s = PyUnicode_AsUTF8AndSize(id_, &id_n);
        if (id_s == NULL)
            return -1;
    }
    if (class_ != NULL) {
        cl_s = PyUnicode_AsUTF8AndSize(class_, &cl_n);
        if (cl_s == NULL)
            return -1;
    }
    if (itemprop != NULL) {
        ip_s = PyUnicode_AsUTF8AndSize(itemprop, &ip_n);
        if (ip_s == NULL)
            return -1;
    }
    /* strOr short-circuits: class only when id empty, itemprop when both */
    const char *ici = id_n ? id_s : (cl_n ? cl_s : ip_s);
    Py_ssize_t ici_n = id_n ? id_n : (cl_n ? cl_n : ip_n);
    const char *ic = id_n ? id_s : cl_s;
    Py_ssize_t ic_n = id_n ? id_n : cl_n;

    /* ici.replace("D","d") then substring tests "date"/"datum";
     * equivalently: case-insensitive on 'D' only — scan with LOWER on
     * 'D' bytes.  Build small lowered-D copies (bounded alloc). */
    {
        char stackbuf[512];
        char *tmp = stackbuf;
        int heap = 0;
        if (ici_n + 1 > (Py_ssize_t)sizeof(stackbuf)) {
            tmp = PyMem_Malloc(ici_n + 1);
            if (tmp == NULL)
                return -1;
            heap = 1;
        }
        for (Py_ssize_t i = 0; i < ici_n; i++)
            tmp[i] = (ici[i] == 'D') ? 'd' : ici[i];
        int hit = contains(tmp, ici_n, "date") || contains(tmp, ici_n, "datum");
        if (heap)
            PyMem_Free(tmp);
        if (hit)
            return 1;
    }
    {
        char stackbuf[512];
        char *tmp = stackbuf;
        int heap = 0;
        if (ic_n + 1 > (Py_ssize_t)sizeof(stackbuf)) {
            tmp = PyMem_Malloc(ic_n + 1);
            if (tmp == NULL)
                return -1;
            heap = 1;
        }
        for (Py_ssize_t i = 0; i < ic_n; i++)
            tmp[i] = (ic[i] == 'M') ? 'm' : ic[i];
        int hit = contains(tmp, ic_n, "meta");
        if (heap)
            PyMem_Free(tmp);
        if (hit)
            return 1;
    }
    if (contains(ic, ic_n, "time") || contains(ic, ic_n, "publish") ||
        contains(ic, ic_n, "footer"))
        return 1;
    static const char *const CLASS_NEEDLES[] = {
        "info", "post_detail", "block-content", "byline", "subline",
        "posted", "submitted", "created-post", "publication", "author",
        "autor", "field-content", "fa-clock-o", "fa-calendar", "fecha",
        "parution", NULL};
    for (const char *const *p = CLASS_NEEDLES; *p; p++)
        if (contains(cl_s, cl_n, *p))
            return 1;
    return 0;
}

/* filter_date(elements, fast) -> surviving elements
 * fast=True: selectors.fast_date; fast=False: selectors.slow_date */
static PyObject *
cdom_filter_date(PyObject *self, PyObject *args)
{
    PyObject *elems;
    int fast;
    if (!PyArg_ParseTuple(args, "O!p", &PyList_Type, &elems, &fast))
        return NULL;
    static const char *const FAST_TAGS[] = {"div", "h2", "h3", "h4", "li",
                                            "p", "span", "time", "ul", NULL};
    PyObject *out = PyList_New(0);
    if (out == NULL)
        return NULL;
    for (Py_ssize_t i = 0; i < PyList_GET_SIZE(elems); i++) {
        PyObject *o = PyList_GET_ITEM(elems, i);
        if (!PyObject_TypeCheck(o, &NodeBase_Type))
            continue;
        CNode *c = (CNode *)o;
        if (c->tag == NULL || !PyUnicode_Check(c->tag))
            continue;
        int keep;
        if (tag_is(c, "footer") || tag_is(c, "small"))
            keep = 1;
        else {
            if (fast) {
                Py_ssize_t tn2;
                const char *ts = PyUnicode_AsUTF8AndSize(c->tag, &tn2);
                if (ts == NULL) {
                    Py_DECREF(out);
                    return NULL;
                }
                if (!in_list(ts, FAST_TAGS))
                    continue;
            }
            keep = date_rule_c(c);
            if (keep < 0) {
                Py_DECREF(out);
                return NULL;
            }
        }
        if (keep && PyList_Append(out, o) < 0) {
            Py_DECREF(out);
            return NULL;
        }
    }
    return out;
}

/* --------------------------------------------------------- serializer */

typedef struct {
    char *buf;
    Py_ssize_t len, cap;
} Writer;

static int
w_reserve(Writer *w, Py_ssize_t extra)
{
    if (w->len + extra <= w->cap)
        return 0;
    Py_ssize_t ncap = w->cap * 2;
    while (ncap < w->len + extra)
        ncap *= 2;
    char *p = PyMem_Realloc(w->buf, ncap);
    if (p == NULL)
        return -1;
    w->buf = p;
    w->cap = ncap;
    return 0;
}

static int
w_put(Writer *w, const char *s, Py_ssize_t n)
{
    if (w_reserve(w, n) < 0)
        return -1;
    memcpy(w->buf + w->len, s, n);
    w->len += n;
    return 0;
}

/* x/net/html escape set: & ' < > " (parser._escape) */
static int
w_put_escaped(Writer *w, const char *s, Py_ssize_t n)
{
    Py_ssize_t start = 0;
    for (Py_ssize_t i = 0; i < n; i++) {
        const char *rep = NULL;
        int rn = 0;
        switch (s[i]) {
        case '&': rep = "&amp;"; rn = 5; break;
        case '\'': rep = "&#39;"; rn = 5; break;
        case '<': rep = "&lt;"; rn = 4; break;
        case '>': rep = "&gt;"; rn = 4; break;
        case '"': rep = "&#34;"; rn = 5; break;
        default: continue;
        }
        if (w_put(w, s + start, i - start) < 0 || w_put(w, rep, rn) < 0)
            return -1;
        start = i + 1;
    }
    return w_put(w, s + start, n - start);
}

static int
w_put_obj(Writer *w, PyObject *s, int escaped)
{
    Py_ssize_t n;
    const char *buf = PyUnicode_AsUTF8AndSize(s, &n);
    if (buf == NULL)
        return -1;
    return escaped ? w_put_escaped(w, buf, n) : w_put(w, buf, n);
}

/* x/net/html render.go writes child text of these verbatim */
static const char *const RAW_RENDER_TAGS[] = {
    "iframe", "noembed", "noframes", "noscript", "plaintext", "script",
    "style", "xmp", NULL};

/* item stack: node, or a pending close tag (tag object, node == NULL) */
typedef struct {
    CNode *node;      /* borrowed */
    PyObject *close;  /* borrowed tag str when this is a close marker */
} RItem;

typedef struct {
    RItem *items;
    Py_ssize_t len, cap;
    RItem inline_buf[256];
} RStack;

static void
rstack_init(RStack *st)
{
    st->items = st->inline_buf;
    st->len = 0;
    st->cap = 256;
}

static int
rstack_push(RStack *st, CNode *node, PyObject *close)
{
    if (st->len == st->cap) {
        Py_ssize_t ncap = st->cap * 2;
        if (st->items == st->inline_buf) {
            RItem *p = PyMem_Malloc(ncap * sizeof(RItem));
            if (p == NULL)
                return -1;
            memcpy(p, st->items, st->len * sizeof(RItem));
            st->items = p;
        } else {
            RItem *p = PyMem_Realloc(st->items, ncap * sizeof(RItem));
            if (p == NULL)
                return -1;
            st->items = p;
        }
        st->cap = ncap;
    }
    st->items[st->len].node = node;
    st->items[st->len].close = close;
    st->len++;
    return 0;
}

static void
rstack_free(RStack *st)
{
    if (st->items != st->inline_buf)
        PyMem_Free(st->items);
}

/* push node's children in reverse (so they pop in document order) */
static int
rstack_push_children(RStack *st, PyObject *children)
{
    if (children == NULL || !PyList_Check(children))
        return 0;
    for (Py_ssize_t i = PyList_GET_SIZE(children) - 1; i >= 0; i--) {
        PyObject *ch = PyList_GET_ITEM(children, i);
        if (!PyObject_TypeCheck(ch, &NodeBase_Type))
            continue;
        if (rstack_push(st, (CNode *)ch, NULL) < 0)
            return -1;
    }
    return 0;
}

/* render_inner(node) -> str: parser.inner_html / render_children */
static PyObject *
cdom_render_inner(PyObject *self, PyObject *arg)
{
    if (!PyObject_TypeCheck(arg, &NodeBase_Type)) {
        PyErr_SetString(PyExc_TypeError, "render_inner expects Node");
        return NULL;
    }
    CNode *root = (CNode *)arg;
    Writer w = {PyMem_Malloc(4096), 0, 4096};
    if (w.buf == NULL)
        return PyErr_NoMemory();
    RStack st;
    rstack_init(&st);
    if (rstack_push_children(&st, root->children) < 0)
        goto nomem;
    while (st.len > 0) {
        RItem it = st.items[--st.len];
        if (it.node == NULL) {
            /* close marker */
            if (w_put(&w, "</", 2) < 0 || w_put_obj(&w, it.close, 0) < 0 ||
                w_put(&w, ">", 1) < 0)
                goto nomem;
            continue;
        }
        CNode *c = it.node;
        if (c->kind == 0) { /* TEXT */
            int raw = 0;
            if (c->parent != NULL &&
                PyObject_TypeCheck(c->parent, &NodeBase_Type)) {
                CNode *par = (CNode *)c->parent;
                if (par->tag != NULL && PyUnicode_Check(par->tag)) {
                    Py_ssize_t tn2;
                    const char *ts = PyUnicode_AsUTF8AndSize(par->tag, &tn2);
                    if (ts == NULL)
                        goto fail;
                    raw = in_list(ts, RAW_RENDER_TAGS);
                }
            }
            if (w_put_obj(&w, c->data, !raw) < 0)
                goto fail;
            continue;
        }
        if (c->kind == 2) { /* COMMENT */
            if (w_put(&w, "<!--", 4) < 0 || w_put_obj(&w, c->data, 0) < 0 ||
                w_put(&w, "-->", 3) < 0)
                goto fail;
            continue;
        }
        /* element */
        if (w_put(&w, "<", 1) < 0 || w_put_obj(&w, c->tag, 0) < 0)
            goto fail;
        PyObject *attrs = c->attrs;
        if (attrs == Py_None) {
            PyObject *parsed = cdom_parse_attrs(NULL, c->raw_attrs);
            if (parsed == NULL)
                goto fail;
            Py_XSETREF(c->attrs, parsed);
            attrs = parsed;
        }
        if (PyList_Check(attrs)) {
            for (Py_ssize_t i = 0; i < PyList_GET_SIZE(attrs); i++) {
                PyObject *pair = PyList_GET_ITEM(attrs, i);
                if (!PyTuple_Check(pair) || PyTuple_GET_SIZE(pair) != 2)
                    continue;
                if (w_put(&w, " ", 1) < 0 ||
                    w_put_obj(&w, PyTuple_GET_ITEM(pair, 0), 0) < 0 ||
                    w_put(&w, "=\"", 2) < 0 ||
                    w_put_obj(&w, PyTuple_GET_ITEM(pair, 1), 1) < 0 ||
                    w_put(&w, "\"", 1) < 0)
                    goto fail;
            }
        }
        {
            Py_ssize_t tn2;
            const char *ts = PyUnicode_AsUTF8AndSize(c->tag, &tn2);
            if (ts == NULL)
                goto fail;
            if (in_list(ts, VOID_TAGS)) {
                if (w_put(&w, "/>", 2) < 0)
                    goto fail;
                continue;
            }
        }
        if (w_put(&w, ">", 1) < 0)
            goto fail;
        if (rstack_push(&st, NULL, c->tag) < 0)
            goto nomem;
        if (rstack_push_children(&st, c->children) < 0)
            goto nomem;
    }
    {
        PyObject *res = PyUnicode_DecodeUTF8(w.buf, w.len, NULL);
        PyMem_Free(w.buf);
        rstack_free(&st);
        return res;
    }
nomem:
    PyErr_NoMemory();
fail:
    PyMem_Free(w.buf);
    rstack_free(&st);
    return NULL;
}

/* ------------------------------------------------------------- module */

static PyObject *
cdom_configure(PyObject *self, PyObject *args)
{
    PyObject *no_attrs, *unescape, *html5 = NULL;
    if (!PyArg_ParseTuple(args, "OO|O", &no_attrs, &unescape, &html5))
        return NULL;
    Py_INCREF(no_attrs);
    Py_XSETREF(g_no_attrs, no_attrs);
    Py_INCREF(unescape);
    Py_XSETREF(g_unescape, unescape);
    if (html5 != NULL) {
        if (!PyDict_Check(html5)) {
            PyErr_SetString(PyExc_TypeError,
                            "configure html5 table must be a dict");
            return NULL;
        }
        Py_INCREF(html5);
        Py_XSETREF(g_html5, html5);
    }
    Py_RETURN_NONE;
}

/* expose the compiled-in tag sets so tests can assert sync with parser.py */
static PyObject *
cdom_tag_sets(PyObject *self, PyObject *noargs)
{
    PyObject *d = PyDict_New();
    if (d == NULL)
        return NULL;
    struct {
        const char *key;
        const char *const *set;
    } sets[] = {{"void", VOID_TAGS},
                {"rawtext", RAWTEXT_TAGS},
                {"p_closers", P_CLOSER_TAGS},
                {"raw_render", RAW_RENDER_TAGS},
                {NULL, NULL}};
    for (int i = 0; sets[i].key; i++) {
        PyObject *lst = PyList_New(0);
        if (lst == NULL)
            goto fail;
        for (const char *const *t = sets[i].set; *t; t++) {
            PyObject *s = PyUnicode_FromString(*t);
            if (s == NULL || PyList_Append(lst, s) < 0) {
                Py_XDECREF(s);
                Py_DECREF(lst);
                goto fail;
            }
            Py_DECREF(s);
        }
        if (PyDict_SetItemString(d, sets[i].key, lst) < 0) {
            Py_DECREF(lst);
            goto fail;
        }
        Py_DECREF(lst);
    }
    return d;
fail:
    Py_DECREF(d);
    return NULL;
}

/* Break every parent back-link under (and including) `root` so the
 * subtree frees by pure refcounting instead of waiting for the cyclic
 * collector — the collector otherwise re-walks every node of every
 * dead tree (the dominant GC cost of the hot loop; see gctune.py).
 * Iterative: the node stack, not the C stack, carries the depth. */
static int
release_subtree(CNode *root)
{
    NStack st;
    stack_init(&st);
    if (stack_push(&st, root) < 0) {
        PyErr_NoMemory();
        return -1;
    }
    while (st.len) {
        CNode *n = st.items[--st.len];
        Py_INCREF(Py_None);
        Py_XSETREF(n->parent, Py_None);
        if (n->children != NULL && PyList_Check(n->children)) {
            Py_ssize_t m = PyList_GET_SIZE(n->children);
            for (Py_ssize_t i = 0; i < m; i++) {
                PyObject *ch = PyList_GET_ITEM(n->children, i);
                if (PyObject_TypeCheck(ch, &NodeBase_Type) &&
                    stack_push(&st, (CNode *)ch) < 0) {
                    stack_free(&st);
                    PyErr_NoMemory();
                    return -1;
                }
            }
        }
    }
    stack_free(&st);
    return 0;
}

static PyObject *
cdom_release_tree(PyObject *self, PyObject *arg)
{
    if (!PyObject_TypeCheck(arg, &NodeBase_Type))
        Py_RETURN_NONE; /* not a Node: no parent links to clear */
    if (release_subtree((CNode *)arg) < 0)
        return NULL;
    Py_RETURN_NONE;
}

static PyMethodDef cdom_methods[] = {
    {"configure", cdom_configure, METH_VARARGS,
     "configure(no_attrs_list, unescape_callable[, html5_semicolon_dict])"},
    {"build_into", cdom_build_into, METH_VARARGS,
     "build_into(root_node, html_str) -> None"},
    {"scan_prelude", cdom_scan_prelude, METH_VARARGS,
     "scan_prelude(node_type, html_str) -> (metas, links, scripts)"},
    {"parse_attrs", cdom_parse_attrs, METH_O,
     "parse_attrs(raw) -> list[(name, value)]"},
    {"tag_sets", cdom_tag_sets, METH_NOARGS,
     "compiled-in tag sets, for sync tests"},
    {"iter_elements", cdom_iter_elements, METH_O,
     "iter_elements(node) -> list of descendant elements, DFS preorder"},
    {"prune_and_collect", cdom_prune_and_collect, METH_VARARGS,
     "prune_and_collect(root, clean_tags) -> surviving elements"},
    {"filter_date", cdom_filter_date, METH_VARARGS,
     "filter_date(elements, fast) -> elements passing fast/slow date rule"},
    {"render_inner", cdom_render_inner, METH_O,
     "render_inner(node) -> serialized children (parser.inner_html)"},
    {"release_tree", cdom_release_tree, METH_O,
     "release_tree(root) -> None: clear parent links (refcount-freeable)"},
    {NULL, NULL, 0, NULL},
};

static struct PyModuleDef cdom_module = {
    PyModuleDef_HEAD_INIT, "_cdom", "C DOM accelerator", -1, cdom_methods,
};

PyMODINIT_FUNC
PyInit__cdom(void)
{
    if (PyType_Ready(&NodeBase_Type) < 0)
        return NULL;
    PyObject *m = PyModule_Create(&cdom_module);
    if (m == NULL)
        return NULL;
    g_empty = PyUnicode_FromStringAndSize("", 0);
    g_tagcache = PyDict_New();
    if (g_empty == NULL || g_tagcache == NULL) {
        Py_DECREF(m);
        return NULL;
    }
    Py_INCREF(&NodeBase_Type);
    if (PyModule_AddObject(m, "NodeBase", (PyObject *)&NodeBase_Type) < 0) {
        Py_DECREF(&NodeBase_Type);
        Py_DECREF(m);
        return NULL;
    }
    return m;
}
